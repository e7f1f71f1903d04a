"""Fixed per-commit costs of the apply path: the engine's default bucket
fan-out follows the session, and a streaming trigger answers its
bookkeeping (order check, empty-segment skip, each batch's SCN span) from
one marker aggregate besides the DDL collect."""

from __future__ import annotations

from logminer_kafka_connect_spark.engine import (
    PAGES_SCHEMA,
    CdcEngine,
    MultiTableCdcEngine,
    TableSpec,
)
from logminer_kafka_connect_spark.sources.events import OP_COMMIT, OP_DDL, OP_ROLLBACK
from logminer_kafka_connect_spark.sources.generator import CdcGenerator, GeneratorConfig


def test_default_engine_sizes_buckets_to_session(spark, tmpdir_path):
    n = spark.sparkContext.defaultParallelism
    assert CdcEngine(spark, f"{tmpdir_path}/a").table.metadata()["n_buckets"] == n
    multi = MultiTableCdcEngine(
        spark, f"{tmpdir_path}/m", [TableSpec("CRAWL", "PAGES", PAGES_SCHEMA, "url")]
    )
    assert multi.table("PAGES").metadata()["n_buckets"] == n
    # an explicit count is honoured, and a reopened table keeps its own
    CdcEngine(spark, f"{tmpdir_path}/b", n_buckets=n + 3)
    assert CdcEngine(spark, f"{tmpdir_path}/b").table.metadata()["n_buckets"] == n + 3


def test_ddl_split_trigger_runs_one_marker_aggregate(spark, tmpdir_path, monkeypatch):
    """A trigger carrying ADD and RENAME splits into three segments; it
    runs two actions (the DDL collect and one grouped marker aggregate)
    and hands each non-empty segment its exact SCN span."""
    from logminer_kafka_connect_spark.streaming import driver as driver_mod

    gen = CdcGenerator(
        GeneratorConfig(seed=23, n_txns=60, n_urls=80, n_snapshot=0, include_ddl=True)
    )
    ev = gen.events_pdf()
    batch_df = gen.events_df(spark).persist()
    batch_df.count()

    engine = CdcEngine(spark, tmpdir_path, n_buckets=2)
    calls, ddls = [], []
    monkeypatch.setattr(
        engine.driver, "process_markers",
        lambda log, m, batch_id, span, commit_hi=None: calls.append((batch_id, span, commit_hi)),
    )
    monkeypatch.setattr(driver_mod, "apply_ddl", lambda table, ddl: ddls.append(ddl.scn))
    actions = []
    df_cls = type(batch_df)
    for name in ("collect", "count", "toPandas", "take", "first", "head"):
        real = getattr(df_cls, name)
        monkeypatch.setattr(
            df_cls, name,
            lambda self, *a, _real=real, _n=name, **kw: actions.append(_n) or _real(self, *a, **kw),
        )
    engine.driver._apply_trigger(batch_df, 7, batch_df)
    monkeypatch.undo()
    batch_df.unpersist()

    assert actions == ["collect", "collect"]
    ddl_scns = sorted(int(s) for s in ev.loc[ev["op_code"] == OP_DDL, "scn"])
    assert ddls == ddl_scns and len(ddl_scns) == 2
    markers = ev.loc[ev["op_code"].isin([OP_COMMIT, OP_ROLLBACK]), "scn"].astype(int)
    edges = [markers.min()] + ddl_scns + [markers.max() + 1]
    want = []
    for k in range(3):
        seg = markers[(markers >= edges[k]) & (markers < edges[k + 1])]
        if len(seg):
            hi = ddl_scns[k] if k < 2 else None
            want.append((f"stream-7-{k}", (int(seg.min()), int(seg.max())), hi))
    assert calls == want and len(want) >= 2
