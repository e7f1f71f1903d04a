"""Multi-table CDC routing: one interleaved redo log feeding N monitored
tables, each with its own schema, key column, and SnapshotTable — the
reference's topic-per-table routing (``SourceTask.kt:46-63``,
``SchemaService.kt:34-36``, ``SourceDatabaseNameService.kt:20-27``).

The log is consolidated ONCE per microbatch; per-table parse/fold/merge
run over the shared committed set (the scan does not repeat per table).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from logminer_kafka_connect_spark.engine import PAGES_SCHEMA, MultiTableCdcEngine, TableSpec
from logminer_kafka_connect_spark.sources.generator import SCN0, CdcGenerator, GeneratorConfig

LINKS_SCHEMA = T.StructType(
    [
        T.StructField("link_id", T.StringType(), False),
        T.StructField("src_url", T.StringType(), True),
        T.StructField("href", T.StringType(), True),
        T.StructField("anchor", T.StringType(), True),
    ]
)


def _norm(pdf: pd.DataFrame, key: str) -> pd.DataFrame:
    pdf = pdf.sort_values(key).reset_index(drop=True)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: bytes(v) if isinstance(v, bytearray) else v)
    if "warc_ts" in pdf.columns:
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
    return pdf


def _assert_equal(actual: pd.DataFrame, expected: pd.DataFrame, key: str):
    actual, expected = _norm(actual, key), _norm(expected, key)
    assert list(actual[key]) == list(expected[key])
    for c in expected.columns:
        mism = [
            (k, x, y)
            for k, x, y in zip(actual[key], actual[c], expected[c])
            if (pd.isna(x) != pd.isna(y)) or (not pd.isna(x) and x != y)
        ]
        assert not mism, f"column {c}: {len(mism)} mismatches, first: {mism[:2]}"


def test_two_table_interleaved_replay(spark, tmpdir_path):
    gen = CdcGenerator(
        GeneratorConfig(seed=11, n_txns=160, n_urls=240, n_snapshot=60, p_links_txn=0.3)
    )
    engine = MultiTableCdcEngine(
        spark,
        tmpdir_path,
        [
            TableSpec("CRAWL", "PAGES", PAGES_SCHEMA, "url"),
            TableSpec("CRAWL", "LINKS", LINKS_SCHEMA, "link_id"),
        ],
        n_buckets=4,
    )
    engine.load_snapshot("PAGES", spark.createDataFrame(gen.snapshot_pdf()), SCN0 - 1)
    stats = engine.replay(gen.events_df(spark), n_batches=4)
    assert stats.n_parse_errors == 0

    _assert_equal(
        engine.state("PAGES").toPandas(), gen.expected_final_state(), "url"
    )
    _assert_equal(engine.state("LINKS").toPandas(), gen.expected_links_state(), "link_id")

    # per-table partition lineage rides in the batch records
    part = engine.lineage.partition_lineage(spark).toPandas()
    assert set(part["table"]) == {"CRAWL.PAGES", "CRAWL.LINKS"}
    assert set(part["batch_id"]) == {b["batch_id"] for b in engine.lineage.batches()}
    assert (part["n_rows"] > 0).all()


def test_two_table_crash_resume(spark, tmpdir_path):
    """Rerunning the multi-table replay is a per-table no-op (batch-id
    idempotence holds per table)."""
    gen = CdcGenerator(
        GeneratorConfig(seed=12, n_txns=80, n_urls=120, n_snapshot=0, p_links_txn=0.4)
    )
    engine = MultiTableCdcEngine(
        spark,
        tmpdir_path,
        [
            TableSpec("CRAWL", "PAGES", PAGES_SCHEMA, "url"),
            TableSpec("CRAWL", "LINKS", LINKS_SCHEMA, "link_id"),
        ],
        n_buckets=4,
    )
    events = gen.events_df(spark)
    engine.replay(events, n_batches=3)
    v_pages = engine.table("PAGES").current_version()
    v_links = engine.table("LINKS").current_version()
    engine.replay(events, n_batches=3)  # full rerun == crash-replay
    assert engine.table("PAGES").current_version() == v_pages
    assert engine.table("LINKS").current_version() == v_links
    _assert_equal(
        engine.state("LINKS").toPandas(), gen.expected_links_state(), "link_id"
    )


def test_two_table_streaming(spark, tmpdir_path):
    """Structured Streaming front-end over a 2-table interleaved log: each
    trigger consolidates once and routes per table."""
    import os

    from tests.test_streaming import _write_event_log

    gen = CdcGenerator(
        GeneratorConfig(seed=13, n_txns=90, n_urls=140, n_snapshot=0, p_links_txn=0.35)
    )
    events_path = os.path.join(tmpdir_path, "events")
    _write_event_log(spark, gen, events_path)

    engine = MultiTableCdcEngine(
        spark,
        tmpdir_path,
        [
            TableSpec("CRAWL", "PAGES", PAGES_SCHEMA, "url"),
            TableSpec("CRAWL", "LINKS", LINKS_SCHEMA, "link_id"),
        ],
        n_buckets=4,
    )
    q = engine.run_streaming(
        events_path, os.path.join(tmpdir_path, "ckpt"), max_files_per_trigger=2
    )
    q.awaitTermination(300)

    _assert_equal(engine.state("PAGES").toPandas(),
                  gen.expected_final_state(include_snapshot=False), "url")
    _assert_equal(engine.state("LINKS").toPandas(), gen.expected_links_state(), "link_id")
