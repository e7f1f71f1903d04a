"""Facade: wire the pages table + replay driver together (§3 lifecycle).

``CdcEngine`` is the analog of the reference's ``SourceTask`` start/poll
lifecycle (``SourceTask.kt:20-150``): restore offset -> choose snapshot vs
CDC -> run. Here: create-or-open the SnapshotTable, optionally load the
initial snapshot (T4), then replay the change log in commit-SCN microbatches
(resumable — rerunning after a crash skips applied batches).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from logminer_kafka_connect_spark.plans.lakehouse import SnapshotTable
from logminer_kafka_connect_spark.plans.lineage import LineageLog
from logminer_kafka_connect_spark.sources.snapshot import load_snapshot
from logminer_kafka_connect_spark.streaming.driver import ReplayDriver, ReplayStats

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

DEFAULT_SELECTORS = [("CRAWL", "PAGES")]


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        selectors=None,
        n_buckets: int | None = None,
        schema: T.StructType = PAGES_SCHEMA,
        key_col: str = "url",
        schema_provider=None,
        fs=None,
        salt_chunks: int | str | None = "auto",
        stats_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
        merge_mode: str = "cow",
        compact_every: int | None = None,
        audit_hook=None,
    ):
        self.spark = spark
        self.workdir = workdir
        table_path = os.path.join(workdir, "pages_table")
        self.table = SnapshotTable(table_path, fs=fs)
        if not self.table.exists():
            # n_buckets defaults to the session's parallelism: every
            # copy-on-write commit rewrites one parquet file per touched
            # bucket and shuffles into n_buckets partitions, so a bucket
            # count above the core count only adds per-file write setup.
            # An existing table keeps the count its manifest recorded.
            # stats_cols/sort_cols are opt-in: the stats pass adds one
            # narrow job per merge — analytics-read-heavy deployments
            # turn it on (file skipping on the replicated table), the
            # pure-throughput bench path keeps it off.
            # merge_mode='mor' switches the replicated table to
            # merge-on-read (delta appends + compact()) for deployments
            # whose batches are small relative to bucket size.
            self.table = SnapshotTable.create(
                table_path, schema, [key_col],
                n_buckets=n_buckets or spark.sparkContext.defaultParallelism,
                stats_cols=stats_cols, sort_cols=sort_cols,
                merge_mode=merge_mode, fs=fs,
            )
        self.lineage = LineageLog(os.path.join(workdir, "lineage"), fs=fs)
        self.driver = ReplayDriver(
            spark,
            self.table,
            self.lineage,
            selectors or DEFAULT_SELECTORS,
            key_col=key_col,
            schema_provider=schema_provider,
            quarantine_dir=os.path.join(workdir, "quarantine"),
        )
        self.driver.salt_chunks = salt_chunks
        # mor read-amplification bound: fold deltas every K applied batches
        self.driver.compact_every = compact_every
        # write-audit-publish gate: audit_hook(staged_state_df) -> bool;
        # each batch stages on a table branch and lands on main only via a
        # fast-forward publish after the hook approves (see
        # ReplayDriver._apply_to_table / SnapshotTable.publish_branch)
        self.driver.audit_hook = audit_hook
        self.config = None  # set by from_properties

    @classmethod
    def from_properties(
        cls,
        spark: SparkSession,
        workdir: str,
        properties,
        schema: T.StructType = PAGES_SCHEMA,
        key_col: str = "url",
        **kw,
    ) -> "CdcEngine":
        """Build the engine from a reference-format connector properties map
        (``SourceConnectorConfig.kt``; see ``config.py`` for the key-by-key
        mapping). Selectors come from ``table.whitelist``; ``db.timezone``
        is applied to the Spark session; ``start.scn`` / ``batch.size`` /
        ``tombstones.on.delete`` / ``db.name`` drive :meth:`run_from_config`
        and envelope emission via the attached :attr:`config`."""
        from logminer_kafka_connect_spark.config import SourceConnectorConfig

        cfg = (
            properties
            if isinstance(properties, SourceConnectorConfig)
            else SourceConnectorConfig(properties)
        )
        cfg.apply_session_timezone(spark)
        eng = cls(
            spark, workdir, selectors=cfg.selectors() or None,
            schema=schema, key_col=key_col, **kw,
        )
        eng.config = cfg
        return eng

    def run_from_config(
        self,
        events: DataFrame,
        snapshot_source: DataFrame | None = None,
        snapshot_scn: int = 0,
        total_events: int | None = None,
    ) -> ReplayStats:
        """The reference's start decision (``SourceTask.kt:66-95``), driven
        by the attached properties: ``start.scn == 0`` -> initial snapshot
        (if a source is given, as-of ``snapshot_scn``) then CDC;
        ``start.scn > 0`` -> CDC only, from that SCN, no snapshot — exactly
        ``createOffsetFromConfig``. ``batch.size`` sizes the commit-SCN
        micro-batches (capped at 64: beyond that, batch granularity no
        longer buys isolation, only per-batch driver overhead)."""
        cfg = self.config
        if cfg is None:
            raise ValueError("run_from_config requires an engine built via from_properties")
        start_scn = None if cfg.needs_initial_snapshot else cfg.start_scn
        if cfg.needs_initial_snapshot and snapshot_source is not None:
            self.load_snapshot(snapshot_source, snapshot_scn=snapshot_scn)
        if total_events is None:
            total_events = events.count()
        return self.replay(
            events, n_batches=min(64, cfg.n_batches(total_events)), start_scn=start_scn
        )

    def load_snapshot(self, source: DataFrame, snapshot_scn: int, n_chunks: int | None = None) -> dict:
        return load_snapshot(self.table, source, snapshot_scn, n_chunks=n_chunks)

    def replay(
        self,
        events: DataFrame,
        n_batches: int = 8,
        start_scn: int | None = None,
        start_offset: tuple[int, str] | None = None,
    ) -> ReplayStats:
        return self.driver.replay(
            events, n_batches=n_batches, start_scn=start_scn, start_offset=start_offset
        )

    def run_streaming(self, events_path: str, checkpoint_dir: str, **kw):
        return self.driver.run_streaming(events_path, checkpoint_dir, **kw)

    def state(self) -> DataFrame:
        return self.table.read(self.spark)


@dataclass
class TableSpec:
    """Declaration of one monitored table (reference: the whitelist entries
    expanded by SourceTask.kt:46-63 with schemas from SchemaService)."""

    owner: str
    table: str
    schema: T.StructType
    key_col: str


class MultiTableCdcEngine:
    """N monitored tables fed by one redo log — per-table SnapshotTables,
    schemas, and key columns; shared consolidation scan per microbatch."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        specs: list[TableSpec],
        n_buckets: int | None = None,
        fs=None,
        schema_provider=None,
        salt_chunks: int | str | None = "auto",
    ):
        from logminer_kafka_connect_spark.streaming.driver import (
            MultiTableReplayDriver,
            TableBinding,
        )

        self.spark = spark
        self.workdir = workdir
        self._tables: dict[str, SnapshotTable] = {}
        bindings = []
        for spec in specs:
            path = os.path.join(workdir, "tables", f"{spec.owner}.{spec.table}")
            t = SnapshotTable(path, fs=fs)
            if not t.exists():
                # bucket count as in CdcEngine
                t = SnapshotTable.create(
                    path, spec.schema, [spec.key_col],
                    n_buckets=n_buckets or spark.sparkContext.defaultParallelism,
                    fs=fs,
                )
            self._tables[spec.table] = t
            bindings.append(TableBinding(spec.owner, spec.table, t, spec.key_col))
        self.lineage = LineageLog(os.path.join(workdir, "lineage"), fs=fs)
        self.driver = MultiTableReplayDriver(
            spark,
            bindings,
            self.lineage,
            schema_provider=schema_provider,
            quarantine_dir=os.path.join(workdir, "quarantine"),
        )
        self.driver.salt_chunks = salt_chunks
        self.config = None  # set by from_properties

    @classmethod
    def from_properties(
        cls,
        spark: SparkSession,
        workdir: str,
        properties,
        specs: list[TableSpec],
        **kw,
    ) -> "MultiTableCdcEngine":
        """Build from a reference-format properties map. ``table.whitelist``
        plays the role of ``SourceTask.kt:46-63`` ``getTablesToFetch``:
        ``OWNER.TABLE`` entries select that spec, bare ``OWNER`` entries
        select every spec in the schema (the reference expands those from
        JDBC metadata; here the ``specs`` list is the catalog). An empty
        whitelist monitors all specs."""
        from logminer_kafka_connect_spark.config import SourceConnectorConfig

        cfg = (
            properties
            if isinstance(properties, SourceConnectorConfig)
            else SourceConnectorConfig(properties)
        )
        cfg.apply_session_timezone(spark)
        selectors = cfg.selectors()
        if selectors:
            selected = [
                s
                for s in specs
                if any(
                    s.owner == owner and (table is None or s.table == table)
                    for owner, table in selectors
                )
            ]
            if not selected:
                raise ValueError(
                    f"table.whitelist {cfg.monitored_tables} matches none of the "
                    f"declared specs {[f'{s.owner}.{s.table}' for s in specs]}"
                )
        else:
            selected = list(specs)
        eng = cls(spark, workdir, selected, **kw)
        eng.config = cfg
        return eng

    def table(self, name: str) -> SnapshotTable:
        return self._tables[name]

    def load_snapshot(self, name: str, source: DataFrame, snapshot_scn: int, n_chunks: int | None = None) -> dict:
        return load_snapshot(self._tables[name], source, snapshot_scn, n_chunks=n_chunks)

    def replay(self, events: DataFrame, n_batches: int = 8, start_scn: int | None = None) -> ReplayStats:
        return self.driver.replay(events, n_batches=n_batches, start_scn=start_scn)

    def run_streaming(self, events_path: str, checkpoint_dir: str, **kw):
        return self.driver.run_streaming(events_path, checkpoint_dir, **kw)

    def state(self, name: str) -> DataFrame:
        return self._tables[name].read(self.spark)
