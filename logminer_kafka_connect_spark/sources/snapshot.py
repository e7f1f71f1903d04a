"""Initial snapshot source (S2/S3/T4) — snapshot-then-stream handoff.

Reference: flashback query ``SELECT t.*, ROWID, ORA_ROWSCN FROM {table} AS
OF SCN {scn}`` keyset-paginated row-at-a-time (``initial/TableFetcher.kt:
20-23``, ``initial/SelectSource.kt:51-99``), rows emitted with ``op='r'``.

Spark-native: the snapshot is one distributed read — either of an existing
SnapshotTable version (time travel = the AS OF SCN analog) or of any source
DataFrame — loaded either as a single atomic ``overwrite`` commit, or
(``n_chunks > 1``) as a sequence of per-chunk commits with their own
batch-ids so a crashed 100-TB initial load resumes at the last applied
chunk instead of rerunning from zero. This is the distributed analog of the
reference's keyset-paginated mid-snapshot resume at ``(table, rowId)``
(``Offset.kt:40-58``, ``initial/SelectSource.kt:62-99``): their cursor is a
row offset, ours is a deterministic hash-chunk of the key space. The
captured ``snapshot_scn`` is where the CDC stream starts (F8/T4 handoff,
``SourceTask.kt:124-131``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logminer_kafka_connect_spark.plans.lakehouse import OP_COL, SET_COLS_COL, SnapshotTable


def load_snapshot(
    table: SnapshotTable, source: DataFrame, snapshot_scn: int, n_chunks: int | None = None
) -> dict:
    """Phase-1 batch job: consistent full load, ``op='r'`` semantics.

    ``n_chunks > 1`` splits the load into deterministic key-hash chunks,
    each its own idempotent commit — a rerun after a crash skips applied
    chunks and applies only the rest (mid-snapshot resume, T4). The final
    state is identical to the single-shot load (chunks partition the key
    space, so the per-chunk upserts are disjoint). Chunk batch-ids fold
    into a per-snapshot chunk-index *watermark* in the manifest
    (``applied_chunk_hi``, plans/lakehouse.py) — O(1) metadata for any
    ``n_chunks``, so a 100-TB load in tens of thousands of chunks resumes
    correctly (an exact-id list FIFO-trimmed to MAX_APPLIED_IDS would
    evict chunk 0 and re-run its table-wiping overwrite; r3 ADVICE).

    Returns the handoff offset: the CDC phase replays commits with
    ``commit_scn > snapshot_scn`` (``SelectOffset.toOracleLogOffset``,
    ``Offset.kt:45``).
    """
    if not n_chunks or n_chunks <= 1:
        batch_id = f"snapshot-{snapshot_scn}"
        stats = table.overwrite(source, batch_id=batch_id)
        return {
            "batch_id": batch_id,
            "snapshot_scn": snapshot_scn,
            "applied": stats.applied,
            "table_version": stats.version,
        }

    spark = source.sparkSession
    key_cols = table.key_cols()
    chunk = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_chunks)).cast("int")
    chunked = source.withColumn("__chunk", chunk)
    applied_chunks = []
    for i in range(n_chunks):
        batch_id = f"snapshot-{snapshot_scn}-chunk-{i}"
        part = chunked.filter(F.col("__chunk") == i).drop("__chunk")
        if i == 0:
            # chunk 0 clears any pre-existing table content (the overwrite),
            # exactly like the single-shot path
            stats = table.overwrite(part, batch_id=batch_id)
        else:
            src = part.withColumn(OP_COL, F.lit("u")).withColumn(
                SET_COLS_COL, F.lit(None).cast("array<string>")
            )
            stats = table.merge(spark, src, batch_id=batch_id)
        applied_chunks.append(stats.applied)
    return {
        "batch_id": f"snapshot-{snapshot_scn}",
        "snapshot_scn": snapshot_scn,
        "applied": any(applied_chunks),
        "n_chunks": n_chunks,
        "chunks_applied": sum(applied_chunks),
        "table_version": table.current_version(),
    }
