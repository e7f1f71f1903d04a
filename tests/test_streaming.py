"""Structured Streaming front-end: readStream over the event log +
foreachBatch apply, with checkpoint restart (T1/T5)."""

from __future__ import annotations

import os

import pandas as pd

from logminer_kafka_connect_spark.engine import CdcEngine
from logminer_kafka_connect_spark.sources.generator import SCN0, CdcGenerator, GeneratorConfig
from tests.test_replay_e2e import _assert_state_equal


def _write_event_log(spark, gen, path, n_files=6):
    """A CDC tail is appended in SCN order; emulate with range-partitioned,
    scn-sorted files given strictly increasing mtimes (the file source
    orders by modification time)."""
    import time as _time

    (
        gen.events_df(spark)
        .repartitionByRange(n_files, "scn")
        .sortWithinPartitions("scn", "row_id", "seq")
        .write.mode("overwrite")
        .parquet(path)
    )
    now = _time.time()
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    for i, f in enumerate(parts):
        os.utime(os.path.join(path, f), (now + i, now + i))


def test_streaming_available_now(spark, tmpdir_path, monkeypatch):
    """Also pins the stream path's fused reassembly+parse: a log with CSF
    chunks, written in SCN order, lands without the reassemble_csf
    fallback."""
    from logminer_kafka_connect_spark.operators import consolidate as consolidate_mod

    cfg = GeneratorConfig(seed=37, n_txns=80, n_urls=120, n_snapshot=40)
    gen = CdcGenerator(cfg)
    assert gen.events_pdf()["csf"].any(), "fixture must carry CSF chunks"
    events_path = os.path.join(tmpdir_path, "events")
    _write_event_log(spark, gen, events_path)
    fallbacks = []
    real = consolidate_mod.reassemble_csf
    monkeypatch.setattr(
        consolidate_mod, "reassemble_csf", lambda df: fallbacks.append(1) or real(df)
    )

    engine = CdcEngine(spark, tmpdir_path, n_buckets=8)
    engine.load_snapshot(spark.createDataFrame(gen.snapshot_pdf()), snapshot_scn=SCN0 - 1)

    q = engine.run_streaming(
        events_path,
        os.path.join(tmpdir_path, "ckpt"),
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)

    _assert_state_equal(
        engine.state().toPandas(), gen.expected_final_state(include_snapshot=True)
    )
    assert fallbacks == []


def test_streaming_restart_from_checkpoint(spark, tmpdir_path):
    """Kill after a partial drain; restart must finish without duplicates
    (streaming WAL + idempotent merges)."""
    cfg = GeneratorConfig(seed=41, n_txns=60, n_urls=100, n_snapshot=30)
    gen = CdcGenerator(cfg)
    events_path = os.path.join(tmpdir_path, "events")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    _write_event_log(spark, gen, events_path, n_files=8)

    engine = CdcEngine(spark, tmpdir_path, n_buckets=8)
    engine.load_snapshot(spark.createDataFrame(gen.snapshot_pdf()), snapshot_scn=SCN0 - 1)

    # phase 1: drain at most a couple of triggers, then stop mid-stream
    q = engine.run_streaming(events_path, ckpt, max_files_per_trigger=2)
    import time

    deadline = time.time() + 120
    while time.time() < deadline and not engine.lineage.batches():
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    # phase 2: restart from the checkpoint; must converge to the oracle
    engine2 = CdcEngine(spark, tmpdir_path, n_buckets=8)
    q2 = engine2.run_streaming(events_path, ckpt, max_files_per_trigger=2)
    q2.awaitTermination(300)

    _assert_state_equal(
        engine2.state().toPandas(), gen.expected_final_state(include_snapshot=True)
    )


def test_stream_envelopes_sink(spark, tmpdir_path):
    """S6 as a stream: every committed change emits one envelope record, in
    epochs, exactly once; the last-write-wins reduction of the envelope
    stream reproduces the expected final state."""
    from logminer_kafka_connect_spark.streaming.driver import stream_envelopes
    from logminer_kafka_connect_spark.engine import PAGES_SCHEMA

    cfg = GeneratorConfig(seed=53, n_txns=70, n_urls=110, n_snapshot=0)
    gen = CdcGenerator(cfg)
    events_path = os.path.join(tmpdir_path, "events")
    _write_event_log(spark, gen, events_path)
    out_dir = os.path.join(tmpdir_path, "topic")

    q = stream_envelopes(
        spark,
        events_path,
        os.path.join(tmpdir_path, "ckpt"),
        out_dir,
        [("CRAWL", "PAGES")],
        PAGES_SCHEMA,
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)

    env = spark.read.parquet(os.path.join(out_dir, "epoch-*"))
    ops = gen.ops()
    # one record per intended committed op (tombstones double the deletes)
    n_deletes = sum(1 for o in ops if o["kind"] == "delete")
    assert env.count() == len(ops) + n_deletes

    # topic-compaction semantics: the last record per key (commit order)
    # decides liveness — deleted keys end on 'd', live keys on 'i'/'u'
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy(
        F.desc("source.commit_scn"), F.desc("source.scn")
    )
    last = (
        env.filter(F.col("op") != "t")  # tombstones carry no source
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "op")
    )
    live = {r["key"] for r in last.collect() if r["op"] != "d"}
    exp = gen.expected_final_state(include_snapshot=False)
    assert live == set(exp["url"])

    # every delete has exactly one tombstone twin
    assert env.filter(F.col("op") == "t").count() == n_deletes


def test_streaming_processing_time_tails_new_files(spark, tmpdir_path):
    """poll.interval.ms semantics (SourceTask.kt:140-146): a processing-time
    trigger keeps tailing the directory — files appended AFTER the stream
    started are picked up without a restart, and the final state matches
    the batch oracle. (availableNow would stop at the initial listing.)"""
    import time as _time

    from logminer_kafka_connect_spark.sources.events import EVENT_SCHEMA

    cfg = GeneratorConfig(seed=53, n_txns=60, n_urls=100, n_snapshot=30)
    gen = CdcGenerator(cfg)
    ev = gen.events_pdf().sort_values(["scn", "row_id"]).reset_index(drop=True)
    mid = int(ev["scn"].median())
    events_path = os.path.join(tmpdir_path, "events")
    os.makedirs(events_path, exist_ok=True)

    def write_half(pdf, name, mtime):
        sub = os.path.join(tmpdir_path, f"stage-{name}")
        spark.createDataFrame(pdf, EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        dst = os.path.join(events_path, f"{name}.parquet")
        os.rename(os.path.join(sub, part), dst)
        os.utime(dst, (mtime, mtime))

    now = _time.time()
    write_half(ev[ev["scn"] <= mid], "half-a", now)

    engine = CdcEngine(spark, tmpdir_path, n_buckets=8)
    engine.load_snapshot(spark.createDataFrame(gen.snapshot_pdf()), snapshot_scn=SCN0 - 1)
    q = engine.run_streaming(
        events_path,
        os.path.join(tmpdir_path, "ckpt"),
        poll_interval_ms=300,
    )
    try:
        # wait until the first half is applied (some txns straddle the cut:
        # their changes hold back until the marker arrives in half B)
        deadline = _time.time() + 240
        while _time.time() < deadline and not engine.lineage.last_batch():
            _time.sleep(2)
        assert engine.lineage.last_batch(), "first half never applied"

        write_half(ev[ev["scn"] > mid], "half-b", _time.time())
        expected = gen.expected_final_state(include_snapshot=True)
        deadline = _time.time() + 240
        while _time.time() < deadline:
            state = engine.state().toPandas()
            if len(state) == len(expected):
                try:
                    _assert_state_equal(state, expected)
                    break
                except AssertionError:
                    pass
            _time.sleep(2)
        _assert_state_equal(engine.state().toPandas(), expected)
    finally:
        q.stop()
