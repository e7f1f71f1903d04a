"""A6 — per-key net-effect reduction (the MERGE-cardinality operator).

The reference's consumers rely on Kafka topic compaction: later record per
key wins (key struct = PK, ``ConnectSchemaFactory.kt:129-137``; ordering =
SCN-sorted emission, ``CdcRecord.scn``). A MERGE sink forbids multiple
source rows per target key, and "later wins" is NOT sufficient for partial
UPDATE images — an earlier update's SET columns must survive a later
update that sets different columns. So the per-key reduction is an ordered
**overlay fold**, not a row_number pick (SURVEY §7 hard spot 2):

    state = (deleted, fresh, img)
    INSERT  -> img := after, fresh := true        (full row replaces)
    UPDATE  -> img := img ⊕ after                 (⊕ = map overlay, LAST_WIN)
               fresh stays; first-touch update     -> fresh := false
               update after in-batch delete        -> fresh := true (tolerant upsert)
    DELETE  -> deleted := true, img := {}

Entirely JVM-side: one hash aggregation by key, ``array_sort`` by
``(commit_scn, scn, row_id)`` (the apply order — the Spark replacement for
"read in SCN order, later row wins"), then ``aggregate`` (fold) over the
typed images the parse UDF emits (``net_effect_typed``).

The overlay is associative, so at extreme per-key skew this fold is split
into salted partial folds over scn sub-ranges and re-folded
(``salted_partials``/``combine_partials``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logminer_kafka_connect_spark.sources.events import OP_DELETE, OP_INSERT

def key_expr(key_col_upper: str):
    """F9 — key from after (INSERT) or before (UPDATE/DELETE)
    (``ConnectSchemaFactory.kt:62-74``)."""
    return F.when(
        F.col("op_code") == OP_INSERT,
        F.try_element_at(F.col("after"), F.lit(key_col_upper)),
    ).otherwise(F.try_element_at(F.col("before"), F.lit(key_col_upper)))


def net_effect_typed(
    parsed: DataFrame,
    fields,
    key_col: str = "url",
    salt_chunks: int | tuple | None = None,
    scn_bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Typed-image net-effect fold (the fast path; see
    ``functions.redo_parse.make_typed_parse_udf``).

    Input: one row per change with ``commit_scn, scn, row_id, op_code,
    key, img (typed struct), set_cols``. Output: ``key_col`` +
    ``__net = struct(deleted, fresh, img, cols)`` where ``cols`` is the
    union of explicitly-set columns since the last reset (null = full
    image). Same overlay semantics as the generic fold, but the payload is
    typed/binary (no JSON, no maps) and every expression is codegen-able.

    ``salt_chunks`` switches on the explicit salted partial-fold for
    hot-key skew (C11; the north_star's "explicit salted-repartition
    stage"): each key's events are split into ``salt_chunks`` contiguous
    commit-scn ranges (``scn_bounds`` = the batch's [lo, hi) commit range),
    folded per (key, chunk) — so a 10%-hot url's html-sized event arrays
    spread across up to ``salt_chunks`` tasks — then the ordered partials
    combine per key (tiny second aggregation: one row per key per chunk).
    The overlay fold is associative over scn-ordered segments, which is
    what makes the two-phase split exact (pinned by
    tests/test_salted_fold.py against the single-pass fold row-for-row).

    ``salt_chunks`` accepts either an int (every key goes two-phase — the
    round-5 plan) or ``(chunks, hot_keys)`` (round-6, guide §2.5 "split the
    hot keys"): only rows of the listed hot keys take the two-phase fold;
    the rest — the overwhelming bulk of the payload — folds single-phase
    and is shuffled exactly once. The all-keys plan shuffled the ENTIRE
    payload twice (events, then per-(key, chunk) partial images — measured
    644 MB + 813 MB at bench scale) to protect against a handful of keys.
    The split is exact because the fold is per-key and each key takes
    exactly one of the two disjoint paths.
    """
    if salt_chunks is not None:
        hot_keys = None
        if isinstance(salt_chunks, tuple):
            salt_chunks, hot_keys = salt_chunks
        if hot_keys:
            is_hot = F.col("key").isin(list(hot_keys))
            hot_parts = salted_partials(
                parsed.filter(is_hot), fields, key_col, salt_chunks, scn_bounds
            )
            hot_net = combine_partials(hot_parts, fields, key_col)
            rest_net = _single_phase_fold(parsed.filter(~is_hot), fields, key_col)
            return rest_net.unionByName(hot_net)
        parts = salted_partials(parsed, fields, key_col, salt_chunks, scn_bounds)
        return combine_partials(parts, fields, key_col)
    return _single_phase_fold(parsed, fields, key_col)


def _single_phase_fold(parsed: DataFrame, fields, key_col: str) -> DataFrame:
    keyed = parsed.filter(F.col("key").isNotNull())
    evs = F.array_sort(
        F.collect_list(F.struct("commit_scn", "scn", "row_id", "op_code", "img", "set_cols"))
    )
    return (
        keyed.groupBy(F.col("key").alias(key_col))
        .agg(evs.alias("__evs"))
        .withColumn("__net", F.expr(_typed_fold_expr(fields)))
        .select(key_col, "__net")
    )


def _img_ddl(fields) -> str:
    return (
        "struct<"
        + ",".join(
            f"{f.name}:{'binary' if f.dataType.typeName() == 'binary' else 'string'}"
            for f in fields
        )
        + ">"
    )


_EMPTY_COLS = "cast(array() as array<string>)"


def _typed_fold_expr(fields) -> str:
    """The ordered overlay fold over ``__evs`` (sorted event structs).

    Output struct also carries ``had_reset`` (did any INSERT/DELETE occur),
    which is what makes folded *partials* combinable: a partial containing
    a reset is self-contained — everything before its last reset, including
    any earlier partial, is discarded by the reset, exactly as in the
    single-pass fold (see combine_partials).
    """
    names = [f.name for f in fields]
    null_img = f"cast(null as {_img_ddl(fields)})"

    overlay = ", ".join(
        f"'{n}', CASE WHEN acc.deleted OR NOT acc.started THEN e.img.{n} "
        f"WHEN e.set_cols IS NULL OR array_contains(e.set_cols, '{n}') THEN e.img.{n} "
        f"ELSE acc.img.{n} END"
        for n in names
    )
    # NOTE: the zero's ``cols`` must be a NULL literal, not an empty array:
    # Spark infers the fold accumulator's nullability from the zero value,
    # and the insert branch assigns null ``cols`` (= full image) — a
    # non-null zero makes codegen skip null checks and NPE in array_union.
    return f"""
    aggregate(
      __evs,
      named_struct('started', false, 'deleted', false, 'fresh', false,
                   'img', {null_img}, 'cols', cast(null as array<string>),
                   'had_reset', false),
      (acc, e) -> CASE
        WHEN e.op_code = {OP_INSERT} THEN named_struct(
          'started', true, 'deleted', false, 'fresh', true,
          'img', e.img, 'cols', cast(null as array<string>),
          'had_reset', true)
        WHEN e.op_code = {OP_DELETE} THEN named_struct(
          'started', true, 'deleted', true, 'fresh', false,
          'img', {null_img}, 'cols', {_EMPTY_COLS},
          'had_reset', true)
        ELSE named_struct(
          'started', true, 'deleted', false,
          'fresh', CASE WHEN acc.deleted THEN true
                        WHEN acc.started THEN acc.fresh
                        ELSE false END,
          'img', named_struct({overlay}),
          'cols', CASE WHEN acc.started AND acc.cols IS NULL AND NOT acc.deleted
                       THEN cast(null as array<string>)
                       ELSE array_union(
                         CASE WHEN acc.deleted OR NOT acc.started
                              THEN {_EMPTY_COLS} ELSE acc.cols END,
                         coalesce(e.set_cols, {_EMPTY_COLS})) END,
          'had_reset', acc.had_reset)
      END
    )
    """


def salted_partials(
    parsed: DataFrame,
    fields,
    key_col: str,
    salt_chunks: int,
    scn_bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Phase 1 of the salted fold: fold each key's events per contiguous
    commit-scn chunk — a hot key's event volume spreads across up to
    ``salt_chunks`` tasks instead of landing on one. Returns one row per
    (key, chunk) with the folded partial struct ``__p``.

    Chunking MUST follow the apply order's leading component (commit_scn):
    hashing on (scn, row_id) would interleave chunks and break the
    ordered-segment associativity the combine relies on.
    """
    keyed = parsed.filter(F.col("key").isNotNull())
    if scn_bounds is not None:
        lo, hi = scn_bounds
    else:
        lo, hi = 0, None
    if hi is not None and hi > lo:
        width = max(1, -(-(hi - lo) // salt_chunks))  # ceil
        chunk = F.least(
            F.lit(salt_chunks - 1),
            F.greatest(F.lit(0), F.floor((F.col("commit_scn") - F.lit(lo)) / F.lit(width))),
        ).cast("int")
    else:
        # unknown bounds: modulo on commit_scn is NOT order-preserving, so
        # fall back to a single chunk (plain fold) rather than be wrong
        chunk = F.lit(0)
    evs = F.array_sort(
        F.collect_list(F.struct("commit_scn", "scn", "row_id", "op_code", "img", "set_cols"))
    )
    return (
        keyed.withColumn("__chunk", chunk)
        .groupBy(F.col("key").alias(key_col), F.col("__chunk"))
        .agg(evs.alias("__evs"))
        .withColumn("__p", F.expr(_typed_fold_expr(fields)))
        .select(key_col, "__chunk", "__p")
    )


def combine_partials(parts: DataFrame, fields, key_col: str) -> DataFrame:
    """Phase 2 of the salted fold: combine each key's chunk partials in
    chunk order. Exactness: ``fold(A, chunk) == p_chunk`` whenever the
    chunk contains a reset (its first INSERT/DELETE discards everything
    before it — including A), and a pure-update partial overlays A
    column-wise via its ``cols`` set; both cases below, pinned row-for-row
    against the single-pass fold by tests/test_salted_fold.py.
    """
    names = [f.name for f in fields]
    null_img = f"cast(null as {_img_ddl(fields)})"
    overlay_inline = ", ".join(
        f"'{n}', CASE WHEN pe.p.cols IS NOT NULL AND array_contains(pe.p.cols, '{n}') "
        f"THEN pe.p.img.{n} ELSE acc.img.{n} END"
        for n in names
    )
    combine = f"""
    aggregate(
      __parts,
      named_struct('started', false, 'deleted', false, 'fresh', false,
                   'img', {null_img}, 'cols', cast(null as array<string>),
                   'had_reset', false),
      (acc, pe) -> CASE
        WHEN NOT acc.started THEN pe.p
        WHEN pe.p.had_reset THEN pe.p
        WHEN acc.deleted THEN named_struct(
          'started', true, 'deleted', false, 'fresh', true,
          'img', pe.p.img, 'cols', pe.p.cols, 'had_reset', acc.had_reset)
        ELSE named_struct(
          'started', true, 'deleted', false, 'fresh', acc.fresh,
          'img', named_struct({overlay_inline}),
          'cols', CASE WHEN acc.cols IS NULL THEN cast(null as array<string>)
                       ELSE array_union(acc.cols, coalesce(pe.p.cols, {_EMPTY_COLS})) END,
          'had_reset', acc.had_reset)
      END
    )
    """
    ordered = F.array_sort(F.collect_list(F.struct(F.col("__chunk").alias("c"), F.col("__p").alias("p"))))
    return (
        parts.groupBy(key_col)
        .agg(ordered.alias("__parts"))
        .withColumn("__net", F.expr(combine))
        .select(key_col, "__net")
    )
