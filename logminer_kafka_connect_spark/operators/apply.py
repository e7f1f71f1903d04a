"""Apply stage — parse → net-effect → typed MERGE source (SURVEY §7.1 step 5).

Pipeline per microbatch (all lazy; Catalyst fuses the filters/projections
around the two Arrow UDF stages):

    committed changes (consolidate.py)
      -> parse redo SQL (P2/P3 pandas UDF)        [functions/redo_parse.py]
      -> net-effect fold per key (A6)             [operators/dedup.py]
      -> typed projection via the type ladder (P3) + HTML->text (P5)
      -> MERGE INTO the snapshot table (J6, enrichment P4 inside the merge)

Skew / distribution (C11, north_star "explicit salted-repartition stage"):
the parse UDF runs on the exchange produced by CSF reassembly, which hashes
on ``(xid, scn, row_id)`` — uniformly distributed keys, so a hot url cannot
concentrate parse work on one task (that exchange IS the salting; when
reassembly is skipped an explicit ``repartition(scn, row_id)`` is applied).
Text extraction runs *after* the net-effect fold — once per final image per
key per batch, not once per change event (the reference converts every
record, ``TransactionConsolidator.kt:47-77``). The fold itself groups by
url; its overlay is associative, so extreme per-key skew can be split into
scn-range partial folds (documented in dedup.py); AQE skew handling covers
the merge join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logminer_kafka_connect_spark.functions.redo_parse import with_parsed_images
from logminer_kafka_connect_spark.functions.text_extract import extract_text_udf
from logminer_kafka_connect_spark.plans.lakehouse import OP_COL, SET_COLS_COL

# pages-table columns that are *derived*, not carried in redo SQL
DERIVED_TEXT_COL = "text"
HTML_SOURCE_COL = "html"


def parse_committed(committed: DataFrame, db_timezone: str = "UTC") -> DataFrame:
    """P2/P3 over committed changes into ``before``/``after`` string maps
    (the change envelope's images); parse failures are split out by the
    caller via ``parse_error`` (reference skips + logs,
    ``TransactionConsolidator.kt:66-69``)."""
    return with_parsed_images(committed, db_timezone=db_timezone)


class _LineageAccParam:
    """AccumulatorParam for per-partition lineage stats gathered inside the
    parse UDF: ``{(partition_id, task_attempt_id): (scn_min, scn_max,
    n_rows)}``. Same-attempt entries (the UDF adds once per Arrow batch)
    merge by summing counts; different attempts stay separate and the
    reader picks each partition's max-count attempt
    (``lineage_rows_from_acc``) — idempotent under task retry, speculation,
    and cache-eviction recompute."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, (mn, mx, n) in b.items():
            if k in a:
                omn, omx, on = a[k]
                a[k] = (min(omn, mn), max(omx, mx), on + n)
            else:
                a[k] = (mn, mx, n)
        return a


def make_lineage_accumulator(spark):
    from pyspark.accumulators import AccumulatorParam

    # AccumulatorParam is an ABC; build a concrete subclass lazily so this
    # module stays importable without a SparkContext
    cls = type("_LineageAcc", (_LineageAccParam, AccumulatorParam), {})
    return spark.sparkContext.accumulator({}, cls())


def lineage_rows_from_acc(acc_value: dict) -> list[tuple[int, int, int, int]]:
    """Collapse the accumulator to one row per partition: keep the
    max-count attempt (complete attempts all report the identical full
    value; a failed partial attempt undercounts)."""
    best: dict[int, tuple[int, int, int]] = {}
    for (pid, _attempt), (mn, mx, n) in acc_value.items():
        cur = best.get(pid)
        if cur is None or n > cur[2]:
            best[pid] = (mn, mx, n)
    return [
        (pid, mn, mx, n) for pid, (mn, mx, n) in sorted(best.items()) if n
    ]


def parse_committed_typed(
    committed: DataFrame,
    schema: T.StructType,
    key_col: str = "url",
    db_timezone: str = "UTC",
    keep_sql: bool = False,
    lineage_acc=None,
    raw_chunks: bool = False,
) -> DataFrame:
    """Typed fast path: parse + hex-decode binary columns + key extraction
    in one Arrow UDF built for the current schema (rebuilt per batch, so
    DDL evolution is picked up). ``keep_sql`` carries the original
    ``sql_redo`` through (for the quarantine / dead-letter path — the
    reference never drops a record it could not convert,
    ``TransactionConsolidator.kt:79-89``). ``lineage_acc`` rides A7
    per-partition stats on the same pass (redo_parse.make_typed_parse_udf).

    ``raw_chunks=True`` takes the fused path: ``committed`` is the
    PRE-reassembly chunk stream (``consolidate(..., reassemble=False)``)
    and CSF reassembly happens inside the parse's own mapInPandas pass —
    no reassembly Exchange, statement text crosses the Python boundary
    exactly once (guide §8/§4; see
    redo_parse.make_fused_reassemble_parse_fn for the contiguity contract
    and the CsfContiguityError fallback)."""
    from logminer_kafka_connect_spark.functions.redo_parse import make_typed_parse_udf

    if raw_chunks:
        from logminer_kafka_connect_spark.functions.redo_parse import (
            make_fused_reassemble_parse_fn,
        )

        fn, out_schema = make_fused_reassemble_parse_fn(
            schema.fields, key_col, db_timezone,
            keep_sql=keep_sql, lineage_acc=lineage_acc,
        )
        # explicit projection before the opaque pass (guide §4.2): ship
        # only what the fused function reads
        cols = ["xid", "scn", "row_id", "commit_scn", "op_code", "seq", "csf", "sql_redo"]
        return committed.select(*cols).mapInPandas(fn, out_schema)

    udf, _ = make_typed_parse_udf(
        schema.fields, key_col, db_timezone, lineage_acc=lineage_acc
    )
    if lineage_acc is None:
        parsed = committed.withColumn("__t", udf(F.col("sql_redo"), F.col("op_code")))
    else:
        parsed = committed.withColumn(
            "__t", udf(F.col("sql_redo"), F.col("op_code"), F.col("scn"))
        )
    extra = ["sql_redo"] if keep_sql else []
    return parsed.select(
        "xid",
        "scn",
        "row_id",
        "commit_scn",
        "op_code",
        *extra,
        F.col("__t.key").alias("key"),
        F.col("__t.img").alias("img"),
        F.col("__t.set_cols").alias("set_cols"),
        F.col("__t.parse_error").alias("parse_error"),
    )


def build_merge_source_typed(
    parsed: DataFrame,
    schema: T.StructType,
    key_col: str = "url",
    salt_chunks: int | tuple | None = None,
    scn_bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Net-effect fold + typed projection -> SnapshotTable.merge contract.

    Output: table columns (typed) + ``__op`` ('u'|'d') + ``__set_cols``
    (null = full-row image -> replace; else only those columns are applied,
    the rest keep the target value — P4 enrichment semantics with explicit
    NULLs preserved, ``issues/Issue14Test.kt``). Casts and text extraction
    run on net rows only.
    ``salt_chunks``/``scn_bounds`` switch on the salted hot-key partial
    fold (C11; see operators.dedup)."""
    from logminer_kafka_connect_spark.operators.dedup import net_effect_typed

    net = net_effect_typed(
        parsed, schema.fields, key_col=key_col,
        salt_chunks=salt_chunks, scn_bounds=scn_bounds,
    )
    img = F.col("__net.img")
    deleted = F.col("__net.deleted")
    fresh = F.col("__net.fresh")
    cols = F.col("__net.cols")

    # html -> text derivation (P5) applies only to tables that carry both
    # columns (the pages table); other monitored tables pass through
    field_names = {f.name for f in schema.fields}
    derives_text = HTML_SOURCE_COL in field_names and DERIVED_TEXT_COL in field_names
    has_html = (
        F.when(cols.isNull(), img[HTML_SOURCE_COL].isNotNull()).otherwise(
            F.array_contains(cols, HTML_SOURCE_COL)
        )
        if derives_text
        else F.lit(False)
    )

    out: list[Column] = []
    for field in schema.fields:
        if field.name == key_col:
            out.append(F.col(key_col).cast(field.dataType).alias(field.name))
        elif field.name == DERIVED_TEXT_COL and derives_text:
            text = F.when(has_html, extract_text_udf(img[HTML_SOURCE_COL])).otherwise(
                F.lit(None).cast("string")
            )
            out.append(text.alias(field.name))
        elif isinstance(field.dataType, T.BinaryType):
            out.append(img[field.name].alias(field.name))
        elif isinstance(field.dataType, T.TimestampType):
            # already UTC-normalized by the parse UDF (all three literal
            # flavors, including db-zone-naive) — no re-shift here
            out.append(F.to_timestamp(img[field.name]).alias(field.name))
        else:
            out.append(img[field.name].cast(field.dataType).alias(field.name))

    set_cols = F.when(deleted | fresh, F.lit(None).cast("array<string>")).otherwise(
        F.when(has_html, F.array_union(cols, F.array(F.lit(DERIVED_TEXT_COL)))).otherwise(cols)
    )
    op = F.when(deleted, F.lit("d")).otherwise(F.lit("u"))
    return net.select(*out, op.alias(OP_COL), set_cols.alias(SET_COLS_COL))


def partition_lineage(changes: DataFrame) -> list[dict]:
    """A7 — per-partition SCN range + row counts for the lineage record
    (north_rule; reference analog: per-record offset maps,
    ``ConnectSchemaFactory.kt:129-131``), collected to the driver: one
    small row per non-empty partition."""
    return [
        r.asDict()
        for r in changes.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.min("scn").alias("scn_min"),
            F.max("scn").alias("scn_max"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    ]
