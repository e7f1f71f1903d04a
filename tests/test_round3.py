"""Round-3 items: size-aware marker join, auto hot-key salting, chunked
snapshot resume, concurrent per-table apply (VERDICT r2 'Next round')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logminer_kafka_connect_spark.operators.consolidate import (
    BROADCAST_MARKER_LIMIT,
    consolidate,
)
from logminer_kafka_connect_spark.sources.generator import SCN0, CdcGenerator, GeneratorConfig


@pytest.fixture(scope="module")
def small_events(spark):
    gen = CdcGenerator(GeneratorConfig(seed=7, n_txns=80, n_urls=100, n_snapshot=0))
    return gen.events_df(spark).persist()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_marker_join_broadcasts_when_small(spark, small_events):
    committed = consolidate(small_events, [("CRAWL", "PAGES")], marker_count_hint=100)
    assert "BroadcastHashJoin" in _plan(committed)


def test_marker_join_shuffles_when_huge(spark, small_events):
    small = consolidate(small_events, [("CRAWL", "PAGES")], marker_count_hint=100)
    huge = consolidate(
        small_events, [("CRAWL", "PAGES")], marker_count_hint=BROADCAST_MARKER_LIMIT
    )
    # the commit join must not carry a *forced* broadcast hint when the
    # marker set is declared huge — Catalyst/AQE stay free to pick the
    # strategy from observed sizes (on this tiny fixture they still choose
    # broadcast, which is correct; at 10^8 markers the stats say shuffle)
    small_logical = small._jdf.queryExecution().optimizedPlan().toString()
    huge_logical = huge._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in small_logical
    assert "strategy=broadcast" not in huge_logical
    # identical results either way
    assert huge.count() == small.count() > 0


# --------------------------------------------------------------- auto salt


def test_auto_salt_activates_on_hot_key(spark, tmpdir_path):
    """A >=10%-hot url auto-activates the two-phase salted fold (VERDICT r2
    Missing #4) and the replayed state still matches the oracle."""
    from logminer_kafka_connect_spark.engine import CdcEngine

    # round-6 trigger is parallelism-relative (share >= 1.25/P, P=4 in the
    # test session): the hot key must exceed ~31% of sampled UPDATE/DELETEs
    cfg = GeneratorConfig(
        seed=31, n_txns=8000, n_urls=300, n_snapshot=0,
        hot_urls=1, hot_frac=0.5, avg_changes=4.0,
    )
    gen = CdcGenerator(cfg)
    engine = CdcEngine(spark, tmpdir_path, n_buckets=8)
    events = gen.events_df(spark)

    # detection itself: one key holds ~30% of changes
    drv = engine.driver
    assert drv.salt_chunks == "auto"
    resolved = drv._resolve_salt_chunks(events, None, None, "url")
    # round 6: (chunks, hot_key_list) — only listed keys take the two-phase
    # fold (guide §2.5); the hot url must be in the list
    assert resolved is not None and resolved[0] > 1
    assert any(u.endswith("/p/0") for u in resolved[1])

    stats = engine.replay(events, n_batches=2)
    assert stats.n_parse_errors == 0
    import pandas as pd

    actual = engine.state().toPandas().sort_values("url").reset_index(drop=True)
    expected = gen.expected_final_state(include_snapshot=False)
    expected = expected.sort_values("url").reset_index(drop=True)
    assert list(actual["url"]) == list(expected["url"])
    a_text = actual["text"].fillna("").tolist()
    e_text = expected["text"].fillna("").tolist()
    assert a_text == e_text


def test_auto_salt_stays_off_without_skew(spark, tmpdir_path):
    from logminer_kafka_connect_spark.engine import CdcEngine

    cfg = GeneratorConfig(
        seed=32, n_txns=4000, n_urls=4000, n_snapshot=0, hot_urls=0, hot_frac=0.0
    )
    gen = CdcGenerator(cfg)
    engine = CdcEngine(spark, tmpdir_path, n_buckets=8)
    events = gen.events_df(spark)
    assert engine.driver._resolve_salt_chunks(events, None, None, "url") is None


def test_salt_chunks_explicit_override(spark, tmpdir_path):
    from logminer_kafka_connect_spark.engine import CdcEngine

    engine = CdcEngine(spark, tmpdir_path, n_buckets=8, salt_chunks=7)
    assert engine.driver._resolve_salt_chunks(None, None, None, "url") == 7
    engine2 = CdcEngine(spark, f"{tmpdir_path}/second", n_buckets=8, salt_chunks=None)
    assert engine2.driver._resolve_salt_chunks(None, None, None, "url") is None


# ------------------------------------------------- chunked snapshot resume


def test_chunked_snapshot_load_resumes_after_crash(spark, tmpdir_path):
    import os

    from logminer_kafka_connect_spark.plans.lakehouse import SnapshotTable
    from logminer_kafka_connect_spark.sources.snapshot import load_snapshot
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    src = spark.range(0, 500).select(
        F.concat(F.lit("https://ex.com/"), F.col("id")).alias("url"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )

    # reference single-shot load
    t_ref = SnapshotTable.create(os.path.join(tmpdir_path, "ref"), schema, ["url"], n_buckets=4)
    load_snapshot(t_ref, src, snapshot_scn=99)
    ref_state = {tuple(r) for r in t_ref.read(spark).collect()}

    # chunked load, crashed after 2 of 4 chunks
    t = SnapshotTable.create(os.path.join(tmpdir_path, "t"), schema, ["url"], n_buckets=4)
    calls = {"n": 0}
    orig_merge = t.merge

    def crashing_merge(*a, **kw):
        if calls["n"] >= 1:  # chunk 0 is an overwrite; crash on 2nd merge
            raise RuntimeError("simulated crash mid-snapshot")
        calls["n"] += 1
        return orig_merge(*a, **kw)

    t.merge = crashing_merge
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        load_snapshot(t, src, snapshot_scn=99, n_chunks=4)
    t.merge = orig_merge
    v_crash = t.current_version()
    assert v_crash == 2  # chunk 0 overwrite + one merge

    # resume: rerun applies ONLY the remaining chunks
    out = load_snapshot(t, src, snapshot_scn=99, n_chunks=4)
    assert out["chunks_applied"] == 2  # chunks 2 and 3
    assert t.current_version() == v_crash + 2
    assert {tuple(r) for r in t.read(spark).collect()} == ref_state

    # full rerun is a complete no-op
    out2 = load_snapshot(t, src, snapshot_scn=99, n_chunks=4)
    assert out2["chunks_applied"] == 0 and not out2["applied"]


# --------------------------------------------- concurrent per-table apply


def test_concurrent_multitable_matches_sequential(spark, tmpdir_path):
    import os

    from pyspark.sql import types as T

    from logminer_kafka_connect_spark.engine import MultiTableCdcEngine, TableSpec
    from logminer_kafka_connect_spark.sources.generator import CdcGenerator, GeneratorConfig

    from logminer_kafka_connect_spark.engine import PAGES_SCHEMA

    links_schema = T.StructType(
        [
            T.StructField("link_id", T.StringType(), False),
            T.StructField("src_url", T.StringType(), True),
            T.StructField("href", T.StringType(), True),
            T.StructField("anchor", T.StringType(), True),
        ]
    )
    specs = [
        TableSpec("CRAWL", "PAGES", PAGES_SCHEMA, "url"),
        TableSpec("CRAWL", "LINKS", links_schema, "link_id"),
    ]
    cfg = GeneratorConfig(seed=77, n_txns=300, n_urls=200, n_snapshot=0, p_links_txn=0.3)
    gen = CdcGenerator(cfg)
    events = gen.events_df(spark).persist()

    states = {}
    for mode in ("seq", "conc"):
        eng = MultiTableCdcEngine(spark, os.path.join(tmpdir_path, mode), specs, n_buckets=4)
        eng.driver.concurrent_tables = mode == "conc"
        eng.replay(events, n_batches=3)
        states[mode] = {
            name: {tuple(r) for r in eng.state(name).collect()}
            for name in ("PAGES", "LINKS")
        }
    events.unpersist()
    assert states["seq"]["PAGES"] == states["conc"]["PAGES"]
    assert len(states["conc"]["PAGES"]) > 0
    assert states["seq"]["LINKS"] == states["conc"]["LINKS"]


# ------------------------------------------------------------- hygiene


def test_quarantine_works_with_tracking_off(spark, tmpdir_path):
    """ADVICE r2: the dead-letter guarantee holds without any per-batch
    statistics switched on (the driver no longer has such switches): a
    parse failure found by the optimistic pass is counted and routed to
    the dead-letter table with its redo SQL by the abort slow path (T9:
    never silently dropped), and the batch's good row still lands."""
    import os

    from logminer_kafka_connect_spark.engine import CdcEngine
    from tests.test_round2 import UNKNOWN_COL_INSERT, _events_df, _schema_miss_rows

    engine = CdcEngine(spark, tmpdir_path, n_buckets=4)
    stats = engine.replay(_events_df(spark, _schema_miss_rows()), n_batches=1)
    assert stats.n_parse_errors == 1
    # the good row landed, the bad row did not vanish silently
    urls = sorted(r["url"] for r in engine.state().select("url").collect())
    assert urls == ["http://base"]
    q = spark.read.parquet(os.path.join(tmpdir_path, "quarantine", "batch-*")).toPandas()
    assert len(q) == 1
    assert "schema_miss" in q["parse_error"].iloc[0]
    assert q["sql_redo"].iloc[0] == UNKNOWN_COL_INSERT


def test_textops_leave_no_persisted_caches(spark):
    """ADVICE r2: minhash_lsh_dedup / jaccard_pairs must not leak cached
    partitions into a long-lived session."""
    from logminer_kafka_connect_spark.operators.textops.dedup import minhash_lsh_dedup

    docs = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog number "),
            (F.col("id") % 5).cast("string"),
        ).alias("text"),
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = minhash_lsh_dedup(docs)
    n = out.count()
    after = jsc.getPersistentRDDs().size()
    # the two intermediate persists (shingle sets, candidates) are gone;
    # at most the eagerly-materialized result block remains (GC-cleaned)
    assert after - before <= 1
    assert n > 0
