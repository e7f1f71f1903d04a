"""Round-4 items: snapshot-chunk watermark (O(1) resume metadata), atomic
writer-lock steal/release, quarantine independent of the stats flags,
salt-probe fault isolation, accumulator-backed single-pass lineage
(VERDICT r3 'Next round' + ADVICE r3)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logminer_kafka_connect_spark.plans.lakehouse import (
    ConcurrentWriterError,
    SnapshotTable,
)


def _mk_table(spark, path):
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    return SnapshotTable.create(path, schema, ["url"], n_buckets=4)


def _src(spark, n=40):
    return spark.range(0, n).select(
        F.concat(F.lit("https://ex.com/"), F.col("id")).alias("url"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )


# --------------------------------------------- snapshot-chunk watermark


def test_chunk_ids_fold_to_watermark_not_exact_list(spark, tmpdir_path):
    """ADVICE r3: chunk batch-ids must never ride the FIFO-trimmed exact
    list (n_chunks > MAX_APPLIED_IDS would evict chunk-0's id and a resume
    would re-run the table-wiping overwrite). They fold into a per-prefix
    chunk-index watermark instead — O(1) metadata for any n_chunks."""
    from logminer_kafka_connect_spark.sources.snapshot import load_snapshot

    t = _mk_table(spark, os.path.join(tmpdir_path, "t"))
    load_snapshot(t, _src(spark), snapshot_scn=99, n_chunks=5)

    meta = t.metadata()
    assert not any("-chunk-" in b for b in meta.get("applied_batch_ids", []))
    assert meta["applied_chunk_hi"] == {"snapshot-99": 4}
    for i in range(5):
        assert t.is_applied(f"snapshot-99-chunk-{i}")
    assert not t.is_applied("snapshot-99-chunk-5")
    assert not t.is_applied("snapshot-77-chunk-0")
    # final state identical to the single-shot load
    ref = _mk_table(spark, os.path.join(tmpdir_path, "ref"))
    load_snapshot(ref, _src(spark), snapshot_scn=99)
    assert {tuple(r) for r in t.read(spark).collect()} == {
        tuple(r) for r in ref.read(spark).collect()
    }


def test_chunk_watermark_survives_unrelated_id_churn(spark, tmpdir_path):
    """Even after MAX_APPLIED_IDS unrelated exact ids, every chunk id is
    still recognized as applied (the r3 bug was eviction-then-rewipe)."""
    from logminer_kafka_connect_spark.plans.lakehouse import MAX_APPLIED_IDS

    t = _mk_table(spark, os.path.join(tmpdir_path, "t"))
    meta = t.metadata()
    adv = dict(meta)
    # simulate a long-lived table: fold many chunk ids, then churn the
    # exact list far past its FIFO bound
    for i in range(3):
        adv.update(t._advance_applied(adv, f"snapshot-5-chunk-{i}", None))
    for i in range(MAX_APPLIED_IDS + 50):
        adv.update(t._advance_applied(adv, f"epoch-{i}", None))
    adv["version"] = meta["version"] + 1
    t._commit(adv)
    assert len(t.metadata()["applied_batch_ids"]) == MAX_APPLIED_IDS
    for i in range(3):
        assert t.is_applied(f"snapshot-5-chunk-{i}")


# --------------------------------------------------- atomic lock steal


def test_stale_lock_is_stolen_via_rename(spark, tmpdir_path):
    t = _mk_table(spark, os.path.join(tmpdir_path, "t"))
    lock = t._lock_path()
    with open(lock, "w") as f:
        json.dump(
            {"token": "dead", "pid": 999999999, "host": os.uname().nodename,
             "op": "merge", "ts": time.time() - 2 * t.LOCK_TTL_S},
            f,
        )
    token = t._acquire_writer_lock("test")  # steals without raising
    assert json.loads(open(lock).read())["token"] == token
    t._release_writer_lock(token)
    assert not os.path.exists(lock)


def test_release_does_not_delete_a_stealers_fresh_lock(spark, tmpdir_path):
    """ADVICE r3: read-check-delete in release could delete a lock that a
    stealer created between our read and our delete. The rename-based
    release must restore a foreign lock untouched."""
    t = _mk_table(spark, os.path.join(tmpdir_path, "t"))
    token = t._acquire_writer_lock("test")
    # simulate: our lock was judged stale and stolen; a new writer now
    # holds the path with its own token
    foreign = {"token": "thief", "pid": os.getpid(), "host": os.uname().nodename,
               "op": "expire", "ts": time.time()}
    with open(t._lock_path(), "w") as f:
        json.dump(foreign, f)
    t._release_writer_lock(token)
    assert os.path.exists(t._lock_path())
    assert json.loads(open(t._lock_path()).read())["token"] == "thief"
    # and the real holder's release still works
    t._release_writer_lock("thief")
    assert not os.path.exists(t._lock_path())


def test_fresh_lock_raced_into_steal_window_is_restored(spark, tmpdir_path):
    """The steal verifies the renamed tombstone holds the token it judged
    stale; a fresh lock that raced in is restored and the acquire raises."""
    t = _mk_table(spark, os.path.join(tmpdir_path, "t"))
    lock = t._lock_path()
    stale = {"token": "dead", "pid": 999999999, "host": os.uname().nodename,
             "op": "merge", "ts": time.time() - 2 * t.LOCK_TTL_S}
    with open(lock, "w") as f:
        json.dump(stale, f)

    fresh = {"token": "fresh", "pid": os.getpid(), "host": os.uname().nodename,
             "op": "merge", "ts": time.time()}
    orig_rename = t.fs.rename

    def racing_rename(src, dst):
        ok = orig_rename(src, dst)
        if ok and src == lock:
            # between our judge-stale read and the rename, another writer
            # released the stale holder and created a fresh lock... which
            # is what we actually renamed. Emulate by rewriting the
            # tombstone as the fresh lock.
            with open(dst, "w") as f:
                json.dump(fresh, f)
        return ok

    t.fs.rename = racing_rename
    try:
        with pytest.raises(ConcurrentWriterError):
            t._acquire_writer_lock("test")
    finally:
        t.fs.rename = orig_rename
    # the fresh lock was restored to the lock path, not destroyed
    assert json.loads(open(lock).read())["token"] == "fresh"


# --------------------------------------- lock-free concurrent maintenance


def test_expiry_concurrent_with_live_merge(spark, tmpdir_path):
    """VERDICT r3 Next #5: a scheduled expiry against a live replay needs
    no manual coordination. Expiry fires in the most hostile window — the
    merge has written its new (not-yet-committed) data dirs and still
    holds the writer lock. Both complete; the merge's fresh dirs survive
    (positive provenance: expiry only deletes dirs an expired manifest
    references), final state is consistent."""
    from logminer_kafka_connect_spark.plans.lakehouse import OP_COL, SET_COLS_COL

    t = _mk_table(spark, os.path.join(tmpdir_path, "t"))

    def _merge_src(i):
        return (
            _src(spark, 10)
            .withColumn("text", F.concat(F.lit(f"v{i} "), F.col("text")))
            .withColumn(OP_COL, F.lit("u"))
            .withColumn(SET_COLS_COL, F.lit(None).cast("array<string>"))
        )

    for i in range(4):
        t.merge(spark, _merge_src(i), batch_id=f"b{i}")
    assert t.current_version() == 4

    expiry_stats = {}
    orig_wb = t._write_buckets

    def write_buckets_then_expire(out, version, **kw):
        buckets = orig_wb(out, version, **kw)
        # maintenance fires while the merge holds the lock and its new
        # dirs exist but are referenced by no manifest yet
        expiry_stats.update(t.expire_snapshots(keep_last=2))
        return buckets

    t._write_buckets = write_buckets_then_expire
    try:
        stats = t.merge(spark, _merge_src(99), batch_id="b99")
    finally:
        t._write_buckets = orig_wb
    assert stats.applied and expiry_stats["expired_manifests"] > 0
    state = {r["url"]: r["text"] for r in t.read(spark).collect()}
    assert len(state) == 10
    assert all(v.startswith("v99 ") for v in state.values())
    # retained window still time-travels
    assert t.read(spark, version=4).count() == 10


def test_expiry_never_touches_versions_above_its_pointer_read(spark, tmpdir_path):
    """A commit can land between expiry's current_version() read and its
    manifest listing; such a version (v > cur-as-read) must be RETAINED —
    classifying it 'not in keep' would delete the freshest manifest and
    its new data dirs. Simulated with a stale pointer read."""
    from logminer_kafka_connect_spark.plans.lakehouse import OP_COL, SET_COLS_COL

    t = _mk_table(spark, os.path.join(tmpdir_path, "t"))

    def _merge_src(i):
        return (
            _src(spark, 10)
            .withColumn("text", F.concat(F.lit(f"v{i} "), F.col("text")))
            .withColumn(OP_COL, F.lit("u"))
            .withColumn(SET_COLS_COL, F.lit(None).cast("array<string>"))
        )

    for i in range(5):
        t.merge(spark, _merge_src(i), batch_id=f"b{i}")
    latest = t.current_version()
    assert latest == 5
    orig_cv = t.current_version
    t.current_version = lambda: latest - 1  # v5 committed after our read
    try:
        stats = t.expire_snapshots(keep_last=1)
    finally:
        t.current_version = orig_cv
    # keep_last=1 off a stale read of v4: expired = versions < 4 only
    assert stats["expired_manifests"] == 4
    assert os.path.exists(t._meta_path(latest))
    state = {r["url"]: r["text"] for r in t.read(spark).collect()}
    assert len(state) == 10 and all(v.startswith("v4 ") for v in state.values())


def test_remove_orphan_files_age_gate(spark, tmpdir_path):
    t = _mk_table(spark, os.path.join(tmpdir_path, "t"))
    from logminer_kafka_connect_spark.plans.lakehouse import OP_COL, SET_COLS_COL

    src = (
        _src(spark, 5)
        .withColumn(OP_COL, F.lit("u"))
        .withColumn(SET_COLS_COL, F.lit(None).cast("array<string>"))
    )
    t.merge(spark, src, batch_id="b0")
    # fabricate an orphan commit dir (crashed write: no manifest references it)
    orphan = os.path.join(tmpdir_path, "t", "data", "commit-deadbeef")
    os.makedirs(orphan)
    assert t.remove_orphan_files(older_than_s=3600)["deleted_orphan_dirs"] == 0
    assert os.path.exists(orphan)  # too young — could be an in-flight write
    assert t.remove_orphan_files(older_than_s=0.0)["deleted_orphan_dirs"] == 1
    assert not os.path.exists(orphan)
    assert t.read(spark).count() == 5  # referenced data untouched


# ------------------------------------------- quarantine with lineage


def test_quarantine_with_lineage_only_tracking(spark, tmpdir_path):
    """ADVICE r3: partition lineage and the dead-letter table both come
    from the abort slow path when a batch has parse failures: the failed
    row is quarantined (T9: never silently dropped), and the batch record's
    partition lineage counts only the good row that was merged."""
    from logminer_kafka_connect_spark.engine import CdcEngine
    from tests.test_round2 import UNKNOWN_COL_INSERT, _events_df, _schema_miss_rows

    engine = CdcEngine(spark, tmpdir_path, n_buckets=4)
    stats = engine.replay(_events_df(spark, _schema_miss_rows()), n_batches=1)
    assert stats.n_parse_errors == 1
    urls = sorted(r["url"] for r in engine.state().select("url").collect())
    assert urls == ["http://base"]
    q = spark.read.parquet(os.path.join(tmpdir_path, "quarantine", "batch-*")).toPandas()
    assert len(q) == 1
    assert "schema_miss" in q["parse_error"].iloc[0]
    assert q["sql_redo"].iloc[0] == UNKNOWN_COL_INSERT
    rec = engine.lineage.last_batch()
    assert rec["n_quarantined"] == 1
    assert sum(p["n_rows"] for p in rec["partitions"]) == 1


# ------------------------------------------------ salt probe isolation


def test_salt_probe_failure_falls_back_to_unsalted(spark, tmpdir_path):
    """ADVICE r3: a failing skew probe (non-parquet source, schema drift)
    must disable salting, not abort the replay."""
    from logminer_kafka_connect_spark.engine import CdcEngine

    engine = CdcEngine(spark, tmpdir_path, n_buckets=4)
    assert engine.driver.salt_chunks == "auto"
    bogus = spark.range(3).select(F.col("id").alias("not_an_event_log"))
    assert engine.driver._resolve_salt_chunks(bogus, None, None, "url") is None


# ----------------------------------- single-pass accumulator lineage


def test_accumulator_lineage_matches_narrow_job(spark, tmpdir_path):
    """The merge-pass accumulator (r4) must report the same per-batch
    lineage totals as the r3 narrow job it replaces: identical total row
    count and global SCN bounds over `committed`, rows for every non-empty
    partition, and the crash-resume contract unchanged (covered by
    test_replay_e2e)."""
    from logminer_kafka_connect_spark.engine import CdcEngine
    from logminer_kafka_connect_spark.operators.consolidate import consolidate
    from logminer_kafka_connect_spark.sources.generator import CdcGenerator, GeneratorConfig

    gen = CdcGenerator(GeneratorConfig(seed=11, n_txns=200, n_urls=120, n_snapshot=0))
    events = gen.events_df(spark)
    engine = CdcEngine(spark, tmpdir_path, n_buckets=4)
    engine.replay(events, n_batches=1)

    part = engine.lineage.partition_lineage(spark).toPandas()
    assert len(part) >= 1
    assert (part["n_rows"] > 0).all()

    ref = (
        consolidate(events, engine.driver.selectors, None, None)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("scn").alias("mn"),
            F.max("scn").alias("mx"),
        )
        .collect()[0]
    )
    assert int(part["n_rows"].sum()) == ref["n"]
    assert int(part["scn_min"].min()) == ref["mn"]
    assert int(part["scn_max"].max()) == ref["mx"]
    # the rows ride in the batch records: no lineage files written by Spark
    recs = engine.lineage.batches()
    assert sum(p["n_rows"] for b in recs for p in b["partitions"]) == ref["n"]
    assert not os.path.exists(os.path.join(tmpdir_path, "lineage", "partitions"))


def test_lineage_acc_retry_idempotence():
    """Reader keeps each partition's max-count attempt: a partial failed
    attempt or a cache-eviction recompute never double-counts."""
    from logminer_kafka_connect_spark.operators.apply import (
        _LineageAccParam,
        lineage_rows_from_acc,
    )

    p = _LineageAccParam()
    acc = p.zero(None)
    # attempt 1 on partition 0: two Arrow batches (sum within attempt)
    p.addInPlace(acc, {(0, 101): (10, 50, 100)})
    p.addInPlace(acc, {(0, 101): (51, 90, 80)})
    # failed partial attempt on partition 1, then its complete retry
    p.addInPlace(acc, {(1, 102): (5, 20, 30)})
    p.addInPlace(acc, {(1, 103): (5, 40, 75)})
    # speculative duplicate of partition 0 (same totals, new attempt)
    p.addInPlace(acc, {(0, 104): (10, 90, 180)})
    assert lineage_rows_from_acc(acc) == [(0, 10, 90, 180), (1, 5, 40, 75)]
