"""Round-6 fused CSF reassembly + parse (guide §8 "move heavy bytes once").

Pins three things about ``parse_committed_typed(raw_chunks=True)``:

1. **Exactness** vs the exchange-based path — same rows (including
   assembled ``sql_redo``), on a chunk-heavy generated log, also when CSF
   groups straddle Arrow batch boundaries inside a task (carry buffer).
2. **Plan shape** — the fused parse plan is narrow: ZERO Exchange nodes
   before the net-effect fold (the classic path pays a full-text
   reassembly Exchange).
3. **Fallback** — a log whose chunks are NOT partition-contiguous raises
   ``CsfContiguityError`` inside the fused pass (also when the runs are
   well-shaped but splice two statements), and the driver-level retry
   (``process_range``) lands the batch through the exchange path with the
   identical final table state; only that error triggers the retry, and
   a shuffled commit join never takes the fused pass.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logminer_kafka_connect_spark.engine import DEFAULT_SELECTORS, PAGES_SCHEMA
from logminer_kafka_connect_spark.functions.redo_parse import is_csf_contiguity_failure
from logminer_kafka_connect_spark.operators.apply import parse_committed_typed
from logminer_kafka_connect_spark.operators.consolidate import consolidate
from logminer_kafka_connect_spark.sources.generator import (
    SCN0,
    CdcGenerator,
    GeneratorConfig,
)


def _gen_events(spark, tmpdir_path, n_txns=600, n_partitions=8):
    gen = CdcGenerator(
        GeneratorConfig(seed=42, n_txns=n_txns, n_urls=n_txns, n_snapshot=n_txns // 3)
    )
    path = f"{tmpdir_path}/events"
    gen.events_df(spark, n_partitions=n_partitions).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), gen


def _canon(df):
    rows = df.select(
        "xid", "scn", "row_id", "commit_scn", "op_code", "sql_redo", "key",
        F.to_json(F.col("img")).alias("img"),
        F.to_json(F.col("set_cols")).alias("sc"),
        "parse_error",
    ).collect()
    return sorted(tuple(r) for r in rows)


def _parse_both(spark, events, hi):
    classic = parse_committed_typed(
        consolidate(events, DEFAULT_SELECTORS, None, hi),
        PAGES_SCHEMA, keep_sql=True,
    )
    fused = parse_committed_typed(
        consolidate(events, DEFAULT_SELECTORS, None, hi, reassemble=False),
        PAGES_SCHEMA, keep_sql=True, raw_chunks=True,
    )
    return classic, fused


def test_fused_matches_classic(spark, tmpdir_path):
    events, _ = _gen_events(spark, tmpdir_path)
    hi = events.agg(F.max("scn")).collect()[0][0] + 1
    n_chunk_rows = events.filter(F.col("csf") | (F.col("seq") > 0)).count()
    assert n_chunk_rows > 100, "fixture must exercise CSF reassembly"
    classic, fused = _parse_both(spark, events, hi)
    assert _canon(classic) == _canon(fused)


def test_fused_carry_across_arrow_batches(spark, tmpdir_path):
    """Tiny Arrow batches force CSF groups to straddle batch boundaries
    inside a task — the carry buffer must heal them exactly."""
    events, _ = _gen_events(spark, tmpdir_path, n_txns=120, n_partitions=2)
    hi = events.agg(F.max("scn")).collect()[0][0] + 1
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        classic, fused = _parse_both(spark, events, hi)
        assert _canon(classic) == _canon(fused)
    finally:
        spark.conf.set(key, old)


def test_fused_plan_is_narrow(spark, tmpdir_path):
    """The fused parse subtree has no Exchange: chunked statement text
    never crosses a shuffle before the net-effect fold."""
    events, _ = _gen_events(spark, tmpdir_path, n_txns=80, n_partitions=2)
    hi = events.agg(F.max("scn")).collect()[0][0] + 1
    classic, fused = _parse_both(spark, events, hi)

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    import re

    fused_plan, classic_plan = plan(fused), plan(classic)
    # the reassembly exchange hashes the full chunk text on
    # (xid, scn, row_id); it must exist in the classic plan and nowhere in
    # the fused one (the remaining fused-plan Exchanges are the tiny
    # marker-dedup aggregations feeding the broadcast joins)
    reassembly_key = re.compile(r"hashpartitioning\(xid#\d+, scn#\d+L, row_id#\d+")
    assert reassembly_key.search(classic_plan), "classic plan lost its reassembly exchange?"
    assert not reassembly_key.search(fused_plan)
    assert "MapInPandas" in fused_plan
    assert "ArrowEvalPython" not in fused_plan  # parse fused into the same pass


def test_contiguity_violation_raises(spark, tmpdir_path):
    """Chunks scattered out of order (sorted by seq first) violate the
    source contract: the fused pass must refuse loudly, not guess."""
    from logminer_kafka_connect_spark.functions.redo_parse import CsfContiguityError

    events, _ = _gen_events(spark, tmpdir_path, n_txns=200, n_partitions=2)
    scattered = events.orderBy("seq", "scn").repartition(2).localCheckpoint()
    hi = events.agg(F.max("scn")).collect()[0][0] + 1
    fused = parse_committed_typed(
        consolidate(scattered, DEFAULT_SELECTORS, None, hi, reassemble=False),
        PAGES_SCHEMA, raw_chunks=True,
    )
    with pytest.raises(Exception) as ei:
        fused.count()
    assert "CsfContiguityError" in str(ei.value)
    assert is_csf_contiguity_failure(ei.value)


def test_contiguity_failure_check_is_precise(spark):
    """Only a worker-raised CsfContiguityError sends a batch down the
    exchange path: a driver-side error or a job failure that merely
    names it is not retried."""
    from pyspark.sql.functions import udf

    @udf("string")
    def boom(x):
        raise ValueError("not a CsfContiguityError")

    with pytest.raises(Exception) as ei:
        spark.range(1).select(boom("id")).collect()
    assert "CsfContiguityError" in str(ei.value)
    assert not is_csf_contiguity_failure(ei.value)
    assert not is_csf_contiguity_failure(RuntimeError("CsfContiguityError: x"))


def test_interleaved_equal_length_groups_raise():
    """Two statements' chunks interleaved as A0,B1,B0,A1 have the right
    run shape (seq 0,1,0,1; csf T,F,T,F); the fused pass must still
    refuse, not splice A0+B1 and B0+A1."""
    import pandas as pd

    from logminer_kafka_connect_spark.functions.redo_parse import (
        CsfContiguityError,
        make_fused_reassemble_parse_fn,
    )

    fn, _ = make_fused_reassemble_parse_fn(PAGES_SCHEMA.fields)
    a = "insert into \"CRAWL\".\"PAGES\"(\"URL\") values ('a');"
    b = "insert into \"CRAWL\".\"PAGES\"(\"URL\") values ('b');"
    pdf = pd.DataFrame(
        {
            "xid": ["x1", "x1", "x1", "x1"],
            "scn": [10, 11, 11, 10],
            "row_id": ["r1", "r2", "r2", "r1"],
            "commit_scn": [20, 20, 20, 20],
            "op_code": [1, 1, 1, 1],
            "seq": [0, 1, 0, 1],
            "csf": [True, False, True, False],
            "sql_redo": [a[:20], b[20:], b[:20], a[20:]],
        }
    )
    with pytest.raises(CsfContiguityError, match="mixes statements"):
        list(fn(iter([pdf])))
    # the same chunks in source order assemble both statements
    ok = pdf.iloc[[0, 3, 2, 1]].reset_index(drop=True)
    out = pd.concat(list(fn(iter([ok]))))
    assert sorted(out["key"]) == ["a", "b"]
    assert out["parse_error"].isna().all()


def test_process_range_skips_fused_at_broadcast_limit(spark, tmpdir_path, monkeypatch):
    """At or above BROADCAST_MARKER_LIMIT the commit join shuffles, which
    loses the row order the fused pass relies on: process_range must
    take the exchange-based reassembly from the start."""
    from logminer_kafka_connect_spark.engine import CdcEngine
    from logminer_kafka_connect_spark.operators.consolidate import BROADCAST_MARKER_LIMIT
    from logminer_kafka_connect_spark.streaming import driver as driver_mod

    engine = CdcEngine(spark, tmpdir_path, n_buckets=2)
    engine.driver.track_watermark = False
    seen = []
    monkeypatch.setattr(
        driver_mod, "consolidate",
        lambda *a, reassemble=True, **kw: seen.append(reassemble) or "committed",
    )
    monkeypatch.setattr(
        engine.driver, "_apply_to_table",
        lambda committed, *a, raw_chunks=False, **kw: seen.append(raw_chunks) or (0, 0, 0, None),
    )
    events = spark.range(0)
    engine.driver.process_range(events, 1, 2, None, BROADCAST_MARKER_LIMIT - 1, salt_override=None)
    engine.driver.process_range(events, 2, 3, None, BROADCAST_MARKER_LIMIT, salt_override=None)
    # (reassemble, raw_chunks) per batch: fused below the limit, classic at it
    assert seen == [False, True, True, False]


def test_driver_falls_back_on_scattered_log(spark, tmpdir_path):
    """End-to-end: replay over a scattered log (fused contract violated)
    must land the same final state as the classic engine — the
    process_range retry path."""
    from logminer_kafka_connect_spark.engine import CdcEngine

    gen = CdcGenerator(GeneratorConfig(seed=7, n_txns=150, n_urls=200, n_snapshot=60))
    ev = gen.events_df(spark)
    # scatter chunks across partitions AND within partitions
    scattered = ev.orderBy("seq", "scn").repartition(3).localCheckpoint()

    states = []
    for fused_flag, events in ((True, scattered), (False, scattered)):
        engine = CdcEngine(spark, f"{tmpdir_path}/wd-{fused_flag}", n_buckets=4)
        engine.driver.fused_parse = fused_flag
        engine.load_snapshot(gen.snapshot_df(spark), snapshot_scn=SCN0 - 1)
        engine.replay(events, n_batches=2)
        states.append(
            sorted(
                (r.url, r.lang, r.text)
                for r in engine.state().select("url", "lang", "text").collect()
            )
        )
    assert states[0] == states[1]
    assert len(states[0]) > 0
