"""End-to-end replay correctness — the engine's spine (SURVEY §7.2).

Generator -> change-event DataFrame -> consolidate/parse/dedup/merge ->
final table state compared against the *independent* expected-state oracle
(reduced from the generator's intended ops, not from the SQL). Covers the
reference's integration scenarios (FIXTURES.md §7): snapshot+stream
consistency, transaction ordering, rollback exclusion, CSF reassembly,
update-to-NULL, enrichment, crash-resume, DDL mid-stream.
"""

from __future__ import annotations

import pandas as pd
import pytest

from logminer_kafka_connect_spark.engine import CdcEngine
from logminer_kafka_connect_spark.sources.generator import SCN0, CdcGenerator, GeneratorConfig


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("url").reset_index(drop=True)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: bytes(v) if isinstance(v, bytearray) else v)
    if "warc_ts" in pdf.columns:
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
    return pdf


def _assert_state_equal(actual: pd.DataFrame, expected: pd.DataFrame):
    actual, expected = _normalize(actual), _normalize(expected)
    assert list(actual["url"]) == list(expected["url"])
    assert set(actual.columns) == set(expected.columns)
    for c in expected.columns:
        a, e = actual[c], expected[c]
        if c in ("fetch_status", "http_status"):
            a = a.astype("Float64")
            e = e.astype("Float64")
        mism = [
            (u, x, y)
            for u, x, y in zip(actual["url"], a, e)
            if (pd.isna(x) != pd.isna(y)) or (not pd.isna(x) and x != y)
        ]
        assert not mism, f"column {c}: {len(mism)} mismatches, first: {mism[:2]}"


def _run(spark, tmpdir_path, cfg: GeneratorConfig, n_batches=6, include_snapshot=True):
    gen = CdcGenerator(cfg)
    engine = CdcEngine(spark, tmpdir_path, n_buckets=8)
    if include_snapshot:
        snap = spark.createDataFrame(gen.snapshot_pdf())
        engine.load_snapshot(snap, snapshot_scn=SCN0 - 1)
    events = gen.events_df(spark)
    stats = engine.replay(events, n_batches=n_batches)
    assert stats.n_parse_errors == 0
    actual = engine.state().toPandas()
    expected = gen.expected_final_state(include_snapshot=include_snapshot)
    _assert_state_equal(actual, expected)
    return engine, gen, stats


def test_replay_small(spark, tmpdir_path):
    _run(spark, tmpdir_path, GeneratorConfig(seed=7, n_txns=60, n_urls=120, n_snapshot=40))


def test_replay_with_snapshot_and_skew(spark, tmpdir_path):
    """snapshot+stream consistency (SourceTaskTest.kt:89-110) + hot urls."""
    _run(
        spark,
        tmpdir_path,
        GeneratorConfig(seed=11, n_txns=120, n_urls=200, n_snapshot=80, hot_frac=0.4, hot_urls=4),
    )


def test_replay_no_snapshot_start_scn_low(spark, tmpdir_path):
    """start.scn=1 semantics: everything arrives via CDC
    (SourceTaskTest.kt:151-178)."""
    _run(
        spark,
        tmpdir_path,
        GeneratorConfig(seed=13, n_txns=80, n_urls=150, n_snapshot=0),
        include_snapshot=False,
    )


def test_rollback_exclusion(spark, tmpdir_path):
    """Rolled-back txns contribute zero rows (TransactionConsolidator.kt:42-45)."""
    cfg = GeneratorConfig(seed=17, n_txns=60, n_urls=100, n_snapshot=0, p_rollback_txn=0.5)
    gen = CdcGenerator(cfg)
    # sanity: the config actually produces rollbacks
    ev = gen.events_pdf()
    assert (ev["op_code"] == 36).sum() > 5
    _run(spark, tmpdir_path, cfg, include_snapshot=False)


def test_crash_resume_no_duplicates(spark, tmpdir_path):
    """OffsetIntegrationTest.kt:45-73: restart mid-stream re-applies nothing.

    Simulated crash: replay only the first half of the batch ranges, then
    re-run the full replay on a fresh driver over the same workdir.
    """
    cfg = GeneratorConfig(seed=19, n_txns=100, n_urls=150, n_snapshot=50)
    gen = CdcGenerator(cfg)
    engine = CdcEngine(spark, tmpdir_path, n_buckets=8)
    engine.load_snapshot(spark.createDataFrame(gen.snapshot_pdf()), snapshot_scn=SCN0 - 1)
    events = gen.events_df(spark)

    ranges, ddls, _ = engine.driver.plan_ranges(events, 6)
    change_lo = None
    for lo, hi in ranges[:3]:
        rec = engine.driver.process_range(events, lo, hi, change_lo)
        change_lo = rec["commit_watermark"] or hi
    v_mid = engine.table.current_version()

    # "restart": fresh engine over the same state dir
    engine2 = CdcEngine(spark, tmpdir_path, n_buckets=8)
    stats = engine2.replay(events, n_batches=6)
    # first 3 ranges were skipped, not re-applied
    applied_versions = engine2.table.current_version() - v_mid
    assert applied_versions <= len(ranges) - 3 + len(ddls)

    _assert_state_equal(
        engine2.state().toPandas(), gen.expected_final_state(include_snapshot=True)
    )


def test_ddl_mid_stream(spark, tmpdir_path):
    """ChangingTableTest.kt:42-93: ADD COLUMN with default + RENAME, applied
    before the affected microbatch; old rows read the default. A second
    replay of the log is a no-op (DDL idempotence by SCN)."""
    cfg = GeneratorConfig(seed=23, n_txns=120, n_urls=200, n_snapshot=60, include_ddl=True)
    engine, gen, _ = _run(spark, tmpdir_path, cfg, n_batches=5)
    cols = engine.state().columns
    assert "http_status" in cols and "fetch_status" not in cols

    # replaying the same log again over the same working directory (its
    # ADD and RENAME already applied) commits nothing and keeps the state
    version, state = engine.table.current_version(), engine.state().toPandas()
    again = CdcEngine(spark, tmpdir_path, n_buckets=8)
    again.replay(gen.events_df(spark), n_batches=5)
    assert again.table.current_version() == version
    _assert_state_equal(again.state().toPandas(), state)


def test_csf_reassembly_volume(spark, tmpdir_path):
    """LongStatementsTest analog: most inserts exceed the 4000-char chunk
    limit (html hex), so CSF reassembly is exercised by construction."""
    cfg = GeneratorConfig(seed=29, n_txns=40, n_urls=80, n_snapshot=0, html_paragraphs=8)
    gen = CdcGenerator(cfg)
    ev = gen.events_pdf()
    assert (ev["csf"]).sum() > 20  # plenty of continuation rows
    assert (ev.groupby(["xid", "scn", "row_id"]).size() > 1).any()
    _run(spark, tmpdir_path, cfg, include_snapshot=False)


def test_generator_parallelism_invariance(spark):
    """The event set is identical at different parallelism (scaling bench
    precondition)."""
    cfg = GeneratorConfig(seed=31, n_txns=30, n_urls=50, n_snapshot=0)
    gen = CdcGenerator(cfg)
    a = gen.events_df(spark, n_partitions=2).toPandas()
    b = gen.events_df(spark, n_partitions=7).toPandas()
    key = ["scn", "row_id", "seq"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_replay_through_hadoop_fs_backend(spark, tmpdir_path):
    """Whole-engine replay with all table/lineage metadata IO through the
    JVM Hadoop FileSystem (the cluster storage path, file:// locally)."""
    from logminer_kafka_connect_spark.plans.fs import HadoopFS
    from logminer_kafka_connect_spark.sources.generator import SCN0

    gen = CdcGenerator(GeneratorConfig(seed=5, n_txns=40, n_urls=80, n_snapshot=20))
    engine = CdcEngine(spark, tmpdir_path, n_buckets=4, fs=HadoopFS(spark))
    engine.load_snapshot(spark.createDataFrame(gen.snapshot_pdf()), snapshot_scn=SCN0 - 1)
    stats = engine.replay(gen.events_df(spark), n_batches=2)
    assert stats.n_parse_errors == 0
    _assert_state_equal(engine.state().toPandas(), gen.expected_final_state())
