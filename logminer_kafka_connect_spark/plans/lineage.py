"""LineageLog — the offsets / lineage table (T1, A7 in SURVEY.md).

The reference resumes from a Kafka Connect offset map
(``Offset.kt:19-38``: ``scn, commitScn, isTransactionComplete``). Our analog
is an append-only file-per-batch log with one *batch record* per applied
microbatch, which carries its per-partition lineage rows:

- batch record: ``batch_id, scn_lo, scn_hi, commit_watermark (A1: min SCN of
  still-open transactions — the safe resume point, TransactionConsolidator.
  kt:57-62,113-115), n_events, n_applied, table_version, wall_s, partitions``
- ``partitions``: ``[{partition_id, scn_min, scn_max, n_rows}]`` (plus
  ``table`` from the multi-table driver) — north_rule per-partition
  lineage; the reference's analog is the offset map attached to every
  SourceRecord, ConnectSchemaFactory.kt:129-131. The rows are gathered on
  the driver during the merge job, so recording them costs no Spark job;
  ``partition_lineage`` serves them as a DataFrame.

Append cost is O(1) per batch: each record is its own
``batches/<seq>-<batch_id>.json`` file, so a 10^6-microbatch replay never
rewrites history — the reference's Kafka Connect offsets are likewise O(1)
per poll (``Offset.kt:19-38``). Round 2 kept one growing ``batches.jsonl``
and rewrote it per append (O(B^2) driver IO over B batches, and on HadoopFS
the delete+rename overwrite window could drop the whole history on a
crash); that file is still *read* for backward compatibility but never
written.

Within one driver process the log is additionally cached in memory
(single-writer contract), so per-batch resume checks cost no file IO at
all; a fresh process lists the directory once.

The batch record is written only *after* the table commit, and the table
commit itself records the batch_id, so a crash between the two is healed by
the merge's idempotence check (replay of the batch is a no-op, then the
lineage record is re-written).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from logminer_kafka_connect_spark.plans.fs import LocalFS


class LineageLog:
    def __init__(self, path: str, fs=None):
        self.path = path
        self.fs = fs or LocalFS()
        self._legacy = os.path.join(path, "batches.jsonl")
        self._batches_dir = os.path.join(path, "batches")
        self.fs.makedirs(self._batches_dir)
        # in-memory cache (single-writer): loaded lazily once, then appended
        self._cache: list[dict[str, Any]] | None = None
        self._ids: set[str] | None = None

    # --------------------------------------------------------------- loading
    def _load(self) -> list[dict[str, Any]]:
        if self._cache is not None:
            return self._cache
        out: list[dict[str, Any]] = []
        if self.fs.exists(self._legacy):  # round-2 layout, read-only
            for line in self.fs.read_text(self._legacy).splitlines():
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        names = sorted(n for n in self.fs.listdir(self._batches_dir) if n.endswith(".json"))
        for n in names:
            out.append(json.loads(self.fs.read_text(os.path.join(self._batches_dir, n))))
        self._cache = out
        self._ids = {b["batch_id"] for b in out}
        return out

    # -------------------------------------------------------------- recording
    def record_batch(self, record: dict[str, Any]) -> None:
        batches = self._load()
        seq = len(batches)
        # seq prefix keeps directory listing order == append order; the
        # batch_id suffix makes a crash-replayed batch overwrite its own
        # record instead of appending a duplicate
        safe_id = str(record["batch_id"]).replace("/", "_")
        name = f"{seq:09d}-{safe_id}.json"
        if record["batch_id"] in (self._ids or set()):
            # re-record of an existing batch (crash between table commit and
            # lineage write): overwrite the original file, keep its seq
            for i, b in enumerate(batches):
                if b["batch_id"] == record["batch_id"]:
                    name = f"{i:09d}-{safe_id}.json"
                    batches[i] = record
                    break
        else:
            batches.append(record)
            self._ids.add(record["batch_id"])
        self.fs.write_text_atomic(os.path.join(self._batches_dir, name), json.dumps(record))

    # ---------------------------------------------------------------- queries
    def batches(self) -> list[dict[str, Any]]:
        return list(self._load())

    def last_batch(self) -> dict[str, Any] | None:
        b = self._load()
        return b[-1] if b else None

    def applied_batch_ids(self) -> set[str]:
        self._load()
        return set(self._ids or set())

    def partition_lineage(self, spark: SparkSession) -> DataFrame | None:
        """Every recorded batch's partition rows, tagged with ``batch_id``
        (and ``table`` when the multi-table driver recorded them); None
        before any batch recorded rows."""
        rows = [
            dict(p, batch_id=b["batch_id"])
            for b in self._load()
            for p in b.get("partitions") or []
        ]
        if not rows:
            return None
        names = ["partition_id", "scn_min", "scn_max", "n_rows", "batch_id"]
        schema = "partition_id int, scn_min bigint, scn_max bigint, n_rows bigint, batch_id string"
        if any("table" in r for r in rows):
            names.append("table")
            schema += ", table string"
        return spark.createDataFrame([tuple(r.get(n) for n in names) for r in rows], schema)
