"""C11 — explicit salted partial-fold for hot-key skew (north_star's
"explicit salted-repartition stage").

A 10%-hot url concentrates that key's whole event array (html payloads
included) on one task in the plain per-key fold. The salted path splits
each key's events into commit-scn chunks, folds each chunk independently
(phase 1, distributed across tasks), then combines the ordered partials
(phase 2 — tiny: one partial row per (key, chunk)). The overlay fold is
associative over scn-ordered segments, so the result is identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from logminer_kafka_connect_spark.engine import PAGES_SCHEMA, CdcEngine
from logminer_kafka_connect_spark.operators.apply import (
    build_merge_source_typed,
    parse_committed_typed,
)
from logminer_kafka_connect_spark.operators.consolidate import consolidate
from logminer_kafka_connect_spark.sources.generator import SCN0, CdcGenerator, GeneratorConfig

HOT_CFG = GeneratorConfig(
    seed=21,
    n_txns=300,
    n_urls=400,
    n_snapshot=0,
    hot_urls=1,
    hot_frac=0.35,  # one url takes >10% of all events
    avg_changes=5.0,
)


def test_salted_fold_identical_to_plain(spark):
    """Phase-1/phase-2 salted fold == single-pass fold, row for row."""
    gen = CdcGenerator(HOT_CFG)
    events = gen.events_df(spark)
    committed = consolidate(events, [("CRAWL", "PAGES")])
    parsed = parse_committed_typed(committed, PAGES_SCHEMA).filter(
        F.col("parse_error").isNull()
    )
    lo, hi = SCN0, SCN0 + HOT_CFG.n_txns * 8 + 64  # SCN_GAP=8 per txn

    plain = build_merge_source_typed(parsed, PAGES_SCHEMA)
    salted = build_merge_source_typed(
        parsed, PAGES_SCHEMA, salt_chunks=8, scn_bounds=(lo, hi)
    )

    cols = ["url", "warc_ts", "lang", "__op"]
    a = (
        plain.select(*cols, F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    b = (
        salted.select(*cols, F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_salted_fold_splits_hot_key(spark):
    """The hot key genuinely folds in >1 partial (the salting is real)."""
    from logminer_kafka_connect_spark.operators.dedup import salted_partials

    gen = CdcGenerator(HOT_CFG)
    events = gen.events_df(spark)
    committed = consolidate(events, [("CRAWL", "PAGES")])
    parsed = parse_committed_typed(committed, PAGES_SCHEMA).filter(
        F.col("parse_error").isNull()
    )
    lo, hi = SCN0, SCN0 + HOT_CFG.n_txns * 8 + 64  # SCN_GAP=8 per txn
    parts = salted_partials(
        parsed, PAGES_SCHEMA.fields, key_col="url", salt_chunks=8, scn_bounds=(lo, hi)
    )
    per_key = parts.groupBy("url").count().toPandas()
    assert per_key["count"].max() >= 4  # hot url split across >=4 chunks


def test_salted_replay_end_to_end(spark, tmpdir_path):
    """Full engine replay with salting on matches the independent oracle."""
    gen = CdcGenerator(HOT_CFG)
    engine = CdcEngine(spark, tmpdir_path, n_buckets=4, salt_chunks=8)
    stats = engine.replay(gen.events_df(spark), n_batches=3)
    assert stats.n_parse_errors == 0
    actual = engine.state().toPandas().sort_values("url").reset_index(drop=True)
    expected = gen.expected_final_state(include_snapshot=False)
    assert list(actual["url"]) == list(expected["url"])
    for c in ["lang", "text"]:
        mism = [
            (u, x, y)
            for u, x, y in zip(actual["url"], actual[c], expected[c])
            if (pd.isna(x) != pd.isna(y)) or (not pd.isna(x) and x != y)
        ]
        assert not mism, f"{c}: {mism[:2]}"


def test_hybrid_hot_key_fold_identical_to_plain(spark):
    """Round-6 hybrid (guide §2.5): two-phase fold for listed hot keys
    only, single-phase for the rest — must equal the single-pass fold row
    for row, with hot keys actually taking the salted path."""
    gen = CdcGenerator(HOT_CFG)
    events = gen.events_df(spark)
    committed = consolidate(events, [("CRAWL", "PAGES")])
    parsed = parse_committed_typed(committed, PAGES_SCHEMA).filter(
        F.col("parse_error").isNull()
    )
    lo, hi = SCN0, SCN0 + HOT_CFG.n_txns * 8 + 64
    hot_url = "https://site0.example.com/p/0"  # hot_urls=1 -> url_id 0

    plain = build_merge_source_typed(parsed, PAGES_SCHEMA)
    hybrid = build_merge_source_typed(
        parsed, PAGES_SCHEMA, salt_chunks=(8, [hot_url]), scn_bounds=(lo, hi)
    )
    cols = ["url", "warc_ts", "lang", "__op"]
    a = (
        plain.select(*cols, F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"))
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    b = (
        hybrid.select(*cols, F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"))
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_auto_probe_returns_hot_key_list(spark, tmpdir_path):
    """The auto probe on a hot workload returns (chunks, [hot keys...])
    containing the hot url; on a uniform workload it returns None."""
    from logminer_kafka_connect_spark.sources.generator import CdcGenerator

    # share must clear max(AUTO_SALT_SHARE, 1.25/P) — P=4 in the test
    # session, so the hot key needs > ~31% of sampled UPDATE/DELETE rows
    hot_gen = CdcGenerator(
        GeneratorConfig(seed=3, n_txns=9000, n_urls=12000, n_snapshot=0,
                        hot_urls=1, hot_frac=0.5, avg_changes=4.0,
                        html_paragraphs=1)
    )
    d = tmpdir_path
    hot_gen.events_df(spark).write.mode("overwrite").parquet(f"{d}/ev")
    engine = CdcEngine(spark, f"{d}/wd", n_buckets=4)
    events = spark.read.parquet(f"{d}/ev")
    got = engine.driver._resolve_salt_chunks(events, None, None, "url")
    assert isinstance(got, tuple) and got[0] >= 1
    assert "https://site0.example.com/p/0" in got[1]

    uni_gen = CdcGenerator(
        GeneratorConfig(seed=4, n_txns=9000, n_urls=12000, n_snapshot=0,
                        hot_urls=1, hot_frac=0.0, avg_changes=4.0,
                        html_paragraphs=1)
    )
    uni_gen.events_df(spark).write.mode("overwrite").parquet(f"{d}/ev2")
    got2 = engine.driver._resolve_salt_chunks(
        spark.read.parquet(f"{d}/ev2"), None, None, "url"
    )
    assert got2 is None
