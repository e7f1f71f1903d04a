"""Stateful streaming CDC compaction (``applyInPandasWithState``).

The batch engine reduces each micro-batch to per-key net effect
(``operators/dedup.py::net_effect_typed``, A6) and lets the MERGE reconcile
across batches. This module is the *streaming-native* composition of the
same semantics: a per-key latest-wins compactor whose state store carries
each key's high-water ordering mark across triggers, so downstream
consumers see at most one row per key per trigger and never a stale
image — Kafka log compaction / Flink upsert-dedup semantics, expressed
with Spark's ``applyInPandasWithState`` (Arrow-batched; no row-at-a-time
Python).

Reference parity note: the reference connector is a source with no
stateful stream operator (T10 "n/a" in SURVEY.md §2) — this is
beyond-reference surface for consumers that chain a downstream pipeline
onto the CDC stream.

100 TB shape: state is O(distinct keys) scalars (ordering mark + one
payload image + a counter), hash-partitioned by key across executors by
the state store itself; each trigger shuffles only that trigger's rows.
On a real cluster back it with the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass``) so state spills to
local disk instead of executor heap; checkpointing gives exactly-once
across restarts. Batch-boundary *emissions* depend on trigger slicing
(inherently), but the final per-key image is invariant to it — pinned by
tests/test_stateful_streaming.py's differential oracle and the
``st_latest_per_key`` DuckDB oracle entry.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ordering column the compactor keys its high-water mark on (a single
#: total-order long; callers encode composite orderings into it)
ORD_COL = "__ord"


def _mk_compact_fn(payload_cols: list[str]):
    """Group function: emit the group's newest row iff it is strictly
    newer than the state's high-water mark; fold the batch's row count
    into a cumulative per-key counter (``n_changes``)."""

    def compact(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            hi, n_seen = state.get[0], state.get[1]
        else:
            hi, n_seen = None, 0
        best = None  # (ord, row-dict) newest row across this trigger's chunks
        for pdf in pdfs:
            n_seen += len(pdf)
            i = int(pdf[ORD_COL].idxmax())
            o = int(pdf[ORD_COL].iloc[i])
            if best is None or o > best[0]:
                best = (o, pdf.iloc[[i]])
        if best is None:  # timeout-only invocation (no data for this key)
            return
        o, row = best
        if hi is not None and o <= hi:
            # the whole trigger is stale for this key (late replay of
            # already-superseded changes, or idempotent redelivery of the
            # current image): state absorbs the count, no emission —
            # downstream never sees an older image twice
            state.update((hi, n_seen))
            return
        state.update((o, n_seen))
        out = row[payload_cols + [ORD_COL]].copy()
        out["n_changes"] = n_seen
        yield out

    return compact


def latest_per_key_stateful(
    events: DataFrame,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Per-key latest-wins compactor over a *streaming* DataFrame.

    ``order_col`` must be a monotonically comparable long (SCN,
    ``(commit_scn << k) | seq`` style encodings, epoch micros...).
    Emits, per trigger and key, the newest payload row — only when it
    advances that key's high-water mark — plus ``n_changes``, the
    cumulative count of change rows the compactor has absorbed for the
    key (so consumers can cheaply spot hot keys without a second
    aggregation). Output mode is append.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ordered = events.withColumn(ORD_COL, F.col(order_col).cast("long"))
    fields = dict(zip(ordered.schema.names, ordered.schema.fields))
    out_schema = ", ".join(
        [f"{c} {fields[c].dataType.simpleString()}" for c in payload_cols]
        + [f"{ORD_COL} bigint", "n_changes bigint"]
    )
    compact = _mk_compact_fn(payload_cols)
    res = ordered.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
        compact,
        outputStructType=out_schema,
        stateStructType="hi bigint, n_seen bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if order_col in payload_cols:
        return res.drop(ORD_COL)
    return res.withColumnRenamed(ORD_COL, order_col)


def run_compaction_to_memory(
    spark,
    source_dir: str,
    schema,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
    max_files_per_trigger: int | None = 1,
    query_name: str = "lmkc_compact",
) -> DataFrame:
    """Drive :func:`latest_per_key_stateful` over a parquet file stream
    with ``Trigger.AvailableNow`` into a memory sink; returns the full
    emission log (one row per key per advancing trigger). Test/driver
    harness — production callers own their own ``writeStream``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    compacted = latest_per_key_stateful(stream, key_cols, order_col, payload_cols)
    q = (
        compacted.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str,
) -> DataFrame:
    """Streaming exactly-once de-duplication of redelivered events
    (``dropDuplicatesWithinWatermark``): the first arrival of each key
    wins; any re-arrival while the key can still legally reappear (inside
    the watermark) is dropped.

    This is the streaming guard for at-least-once upstream transports
    (the reference connector's Kafka Connect frame redelivers on task
    restart — ``SourceTaskTest.kt``'s offset-resume tests are the batch
    analog; the MERGE path absorbs duplicates idempotently, this absorbs
    them before they reach any non-idempotent consumer).

    Why the watermark variant and not plain ``dropDuplicates``: unbounded
    streaming dedup state grows O(all keys ever); within-watermark state
    is O(keys per watermark window) — the only shape that survives a
    10^10-event stream. The trade is explicit: a duplicate arriving
    later than the watermark delay is no longer caught (CDC redelivery
    happens on restart within seconds-to-minutes; size the delay to the
    transport's redelivery horizon, not to eternity).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
