"""CDC apply benchmark: one workload per run, one JSON result line.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 25 --trace 0

The run generates its inputs from ``--seed`` (``gen.py``), starts a Spark
session with deployment settings only, warms it on a small separate log,
loads the initial snapshot, then times one apply of the whole log:

- ``backfill``: ``replay`` of a large backlog in a few commit batches;
- ``stream_tail``: ``run_streaming`` with ``Trigger.AvailableNow``, one
  log file per trigger, with ADD COLUMN then RENAME COLUMN mid-stream.

The final table is checked against the oracle in ``gen.py``, and a second
apply over the same log and working directory must commit nothing.
``--trace 1`` reports per-layer figures instead of the end-to-end ones (see
``spans.py``). The last line of standard output is ``{"correct",
"attempted", "failed", "metrics"}``. Operations are the batch commits of
the apply, the reads of the final table and the second apply. A run applies
the whole log once whatever ``--seconds`` says, so that every seed does the
same work.

The engine is imported from the checkout this file lives in. Without it
the run exits with status 3 and prints no result line.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import tempfile
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import procstat  # noqa: E402

RESULTS_DIR = os.path.join(ROOT, ".cdcbench_results")
N_READS = 3

WORKLOADS = {
    # per-row layers: a large backlog in a few big commit batches, with
    # CSF-chunked HTML and one url hot enough for the skew probe to salt
    # the net-effect fold
    "backfill": dict(
        shape=gen.Shape(n_snapshot=2000, n_txns=6000, n_urls=8000, paragraphs=(3, 7),
                        p_insert=0.22, p_delete=0.08, p_html_update=0.30,
                        hot_share=0.45, n_files=4),
        n_batches=2,
    ),
    # per-batch fixed costs: a connector catching up after downtime, one
    # log file per trigger onto a table much larger than the log, uniform
    # keys (the salted fold is bypassed), ADD COLUMN then RENAME COLUMN
    # mid-stream; each trigger re-scans the whole log for its changes
    "stream_tail": dict(
        shape=gen.Shape(n_snapshot=4000, n_txns=700, n_urls=4000, paragraphs=(2, 6),
                        ddl=True, n_files=3),
        n_batches=None,
    ),
}
# two files, so that a streaming warm-up runs a second trigger on top of a
# recorded batch, as the apply's later triggers do
WARMUP_SHAPE = gen.Shape(n_snapshot=40, n_txns=40, n_urls=60, n_files=2)

END_TO_END = {
    "setup_s": "s", "events_per_s": "events/s", "batch_p50_s": "s", "cpu_s": "cpu-s",
    "peak_rss_mb": "MB", "written_mb": "MB",
}
JOB_LAYERS = [
    "snapshot", "driver.replay", "driver.plan_ranges", "driver.process_range",
    "driver.process_markers", "consolidate.watermark", "lakehouse.merge",
    "lineage.record", "lakehouse.read",
]
JOB_STATS = {"calls": "count", "self_s": "s", "jobs": "count", "skipped_stages": "count",
             "task_s": "s", "shuffle_mb": "MB", "input_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Name and unit of every per-layer metric, in output order."""
    out = {"session.start_s": "s"}
    for layer in JOB_LAYERS + ["other"]:
        for stat, unit in JOB_STATS.items():
            if layer != "other" or stat not in ("calls", "self_s"):
                out[f"{layer}.{stat}"] = unit
    out.update({
        "lakehouse.merge.written_mb": "MB", "lakehouse.merge.spill_mb": "MB",
        "ddl.apply.calls": "count", "ddl.apply.self_s": "s",
        "fs.meta.calls": "count", "fs.meta.self_s": "s",
        "dedup.salted.calls": "count", "apply.jobs_per_batch": "count",
        "redo_parse.us_per_row": "us", "redo_parse.us_per_stmt": "us",
        "text_extract.us_per_doc": "us",
        "memory.driver_peak_mb": "MB", "memory.workers_peak_mb": "MB", "memory.jvm_pss_peak_mb": "MB",
        "memory.jvm_heap_live_peak_mb": "MB", "memory.jvm_heap_used_peak_mb": "MB",
        "memory.jvm_gcs": "count", "memory.jvm_offheap_mb": "MB",
    })
    return out


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(") ", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def heap_size() -> str:
    """A fifth of physical memory, at most 3 GiB. The run commits it at
    start, as long-running drivers are usually deployed, so the heap does not
    grow at times that vary from run to run."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{max(512, min(3072, kb // 5120))}m"


class Run:
    def __init__(self, args):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.n_cpu = len(os.sched_getaffinity(0))
        self.dir = os.path.join(ROOT, ".cdcbench_tmp", f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.queries = []
        self.tracer = None
        self.job_windows: dict[str, tuple[int, int]] = {}

    # -------------------------------------------------------------- inputs
    def make_inputs(self):
        t0 = time.perf_counter()
        self.log = gen.generate(self.cfg["shape"], self.args.seed, self.args.workload)
        self.events_dir = os.path.join(self.dir, "input", "redo")
        gen.write_log(self.log, self.events_dir)
        self.snapshot_path = gen.write_snapshot(self.log, os.path.join(self.dir, "input", "snapshot.parquet"))
        self.warm = gen.generate(WARMUP_SHAPE, self.args.seed, "warmup")
        self.warm_events = os.path.join(self.dir, "warm", "redo")
        gen.write_log(self.warm, self.warm_events)
        self.warm_snapshot = gen.write_snapshot(self.warm, os.path.join(self.dir, "warm", "snapshot.parquet"))
        self.expected = gen.expected_state(self.log)
        return time.perf_counter() - t0

    # ------------------------------------------------------------- session
    def start_session(self):
        from logminer_kafka_connect_spark.session import get_spark

        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.gc_log = os.path.join(self.dir, "gc.log")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # the launcher JVM that spark-submit starts first would write its
        # performance data under the system temp dir
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # Python workers import the engine from this checkout too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        heap = heap_size()
        self.spark = get_spark(
            app_name="cdcbench",
            master=f"local[{self.n_cpu}]",
            shuffle_partitions=self.n_cpu,
            driver_memory=heap,
            extra_conf={
                "spark.local.dir": tmp,
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.defaultJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                                   f"-Xlog:gc:file={self.gc_log}",
            },
        )
        self.sc = self.spark.sparkContext

    def engine(self, name):
        from logminer_kafka_connect_spark.engine import CdcEngine

        return CdcEngine(self.spark, os.path.join(self.dir, name))

    def warm_up(self):
        """The workload's kind of apply on a small separate log and engine
        (a replay in one batch, or a stream of two triggers), so that the
        apply does not pay the session's first Python workers and the code
        generation of its own path."""
        eng = self.engine("warm-engine")
        eng.load_snapshot(self.spark.read.parquet(self.warm_snapshot), snapshot_scn=self.warm.snapshot_scn)
        self.apply(eng, self.warm_events, os.path.join(self.dir, "warm", "checkpoint"), n_batches=1)

    # --------------------------------------------------------------- apply
    def apply(self, eng, events_dir, ckpt, n_batches=None):
        """One apply of the whole log in ``events_dir``; returns the wall
        seconds. ``n_batches`` overrides the workload's replay batches."""
        t0 = time.perf_counter()
        if self.cfg["n_batches"] is not None:
            eng.replay(self.spark.read.parquet(events_dir), n_batches=n_batches or self.cfg["n_batches"])
        else:
            q = eng.run_streaming(events_dir, ckpt, max_files_per_trigger=1)
            self.queries.append(q)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
        return time.perf_counter() - t0

    def read_once(self, eng):
        eng.state().write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------- tracing
    def install_tracer(self):
        import spans as tr

        from logminer_kafka_connect_spark import engine as engine_mod
        from logminer_kafka_connect_spark.operators import dedup
        from logminer_kafka_connect_spark.plans import fs, lakehouse, lineage
        from logminer_kafka_connect_spark.streaming import driver

        t = tr.Tracer(self.sc)
        t.wrap(engine_mod, "load_snapshot", "snapshot")
        t.wrap(driver.ReplayDriver, "replay", "driver.replay")
        t.wrap(driver.ReplayDriver, "plan_ranges", "driver.plan_ranges")
        t.wrap(driver.ReplayDriver, "process_range", "driver.process_range")
        t.wrap(driver.ReplayDriver, "process_markers", "driver.process_markers")
        t.wrap(driver, "open_txn_watermark", "consolidate.watermark")
        t.wrap(lakehouse.SnapshotTable, "merge", "lakehouse.merge")
        t.wrap(lineage.LineageLog, "record_batch", "lineage.record")
        t.wrap(driver, "apply_ddl", "ddl.apply", jobs=False)
        for attr in ("read_text", "write_text_atomic", "listdir"):
            t.wrap(fs.LocalFS, attr, "fs.meta", jobs=False)
        t.wrap(dedup, "salted_partials", "dedup.salted", jobs=False)
        self.tracer = t

    # ----------------------------------------------------------------- run
    def mark(self, what: str) -> None:
        print(f"# {time.time() - self.t_start:7.2f}s {what}", file=sys.stderr, flush=True)

    def run(self, t_start: float) -> dict:
        self.t_start = t_start
        gen_s = self.make_inputs()
        self.mark(f"inputs generated in {gen_s:.2f}s")
        try:
            import logminer_kafka_connect_spark  # noqa: F401
        except ImportError as e:
            print(f"cdcbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
            print(f"cdcbench: all {self.planned_ops()} planned operations failed", file=sys.stderr)
            raise SystemExit(3)
        rss = procstat.RssSampler(os.getpid()).start()
        t_session = time.time()
        self.start_session()
        session_s = time.time() - t_session
        self.mark("session started")
        eng = self.engine("engine")
        snapshot = self.spark.read.parquet(self.snapshot_path)
        if self.args.trace:
            self.install_tracer()
            self.tracer.recording = True
            first = self._next_job_id()
            eng.load_snapshot(snapshot, snapshot_scn=self.log.snapshot_scn)
            self.job_windows["snapshot"] = (first, self._next_job_id() - 1)
            self.tracer.recording = False
            self.warm_up()
        else:
            # the warm-up runs beside the snapshot load; both are set-up
            with ThreadPoolExecutor(max_workers=1) as pool:
                warm = pool.submit(self.warm_up)
                eng.load_snapshot(snapshot, snapshot_scn=self.log.snapshot_scn)
                warm.result()
        setup_s = time.time() - t_start - gen_s
        self.mark("snapshot loaded and warmed up")
        if self.tracer is not None:
            self.tracer.recording = True

        ckpt = os.path.join(self.dir, "checkpoint")
        os.makedirs(ckpt, exist_ok=True)
        written_before = procstat.file_sizes(eng.workdir, ckpt)
        first_job = self._next_job_id() if self.tracer is not None else 0
        cpu0, steal0 = procstat.tree_cpu_s(os.getpid()), procstat.cpu_times()
        t_apply = time.time()
        problems = []
        attempted = failed = 0
        try:
            wall = self.apply(eng, self.events_dir, ckpt)
        except Exception as e:  # the run still reports and cleans up
            wall = time.time() - t_apply
            attempted, failed = 1, 1
            problems.append(f"apply failed: {type(e).__name__}: {str(e)[:300]}")
        t_end = time.time()
        cpu_s = procstat.tree_cpu_s(os.getpid()) - cpu0
        steal = procstat.steal_share(steal0, procstat.cpu_times())
        if self.tracer is not None:
            self.job_windows["apply"] = (first_job, self._next_job_id() - 1)
            first_job = self._next_job_id()
        written_mb = procstat.new_bytes(written_before, eng.workdir, ckpt) / 1e6
        print("# written MB by directory: " + ", ".join(
            f"{os.path.basename(d)} {procstat.new_bytes(written_before, d) / 1e6:.2f}"
            for d in sorted(glob.glob(os.path.join(eng.workdir, "*")) + [ckpt])), file=sys.stderr)
        self.mark(f"applied in {wall:.2f}s")

        history = eng.table.snapshot_history()
        # a batch commit carries a new batch id; schema changes keep the
        # previous one
        commits = [h["timestamp"] for prev, h in zip(history, history[1:])
                   if h["batch_id"] != prev["batch_id"] and t_apply <= h["timestamp"] <= t_end]
        attempted += len(commits)
        intervals = [b - a for a, b in zip([t_apply] + commits, commits)]
        print("# commit intervals (s): " + " ".join(f"{x:.2f}" for x in intervals), file=sys.stderr)
        if not commits:
            problems.append("the apply committed no table version")

        for _ in range(N_READS):
            attempted += 1
            try:
                if self.tracer is not None:
                    self.tracer.span("lakehouse.read", self.read_once, eng)
                else:
                    self.read_once(eng)
            except Exception as e:
                failed += 1
                problems.append(f"read failed: {type(e).__name__}: {e}")
        if self.tracer is not None:
            self.tracer.recording = False
            self.job_windows["read"] = (first_job, self._next_job_id() - 1)
        try:
            problems += self.check(eng)
        except Exception as e:
            problems.append(f"final table unreadable: {type(e).__name__}: {str(e)[:300]}")
        self.mark("read and checked")

        # a second apply over the same log and working directory must
        # commit nothing; it runs last, so a fault that damages the
        # table cannot touch the figures above
        attempted += 1
        n_versions = len(eng.table.snapshot_history())
        try:
            self.apply(eng, self.events_dir, ckpt)
            extra = len(eng.table.snapshot_history()) - n_versions
            if extra:
                failed += 1
                print(f"# re-apply: committed {extra} new version(s)", file=sys.stderr)
        except Exception as e:
            failed += 1
            print(f"# re-apply failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        self.mark("re-applied")

        offheap = jvm_offheap_bytes(self.sc)
        rss.stop()
        heap = gc_heap_peaks(self.gc_log)
        self.memory = {"driver_peak_mb": rss.peak_by_role["driver"] / 1e6,
                       "workers_peak_mb": rss.peak_by_role["workers"] / 1e6,
                       "jvm_pss_peak_mb": rss.peak_by_role["jvm"] / 1e6,
                       "jvm_heap_live_peak_mb": heap["live"] / 1e6,
                       "jvm_heap_used_peak_mb": heap["used"] / 1e6,
                       "jvm_gcs": heap["gcs"], "jvm_offheap_mb": offheap / 1e6}
        print("# memory (MB): " + ", ".join(f"{k} {v:.1f}" for k, v in self.memory.items()), file=sys.stderr)
        n_events = self.log.n_events
        eps = n_events / wall
        print(f"# {self.args.workload} seed={self.args.seed}: {n_events} events, {len(commits)} commits, "
              f"host steal {100 * steal:.1f}% during the apply", file=sys.stderr)
        for p in problems:
            print(f"# check: {p}", file=sys.stderr)
        e2e = {
            "setup_s": setup_s,
            "events_per_s": eps,
            "batch_p50_s": statistics.median(intervals) if intervals else wall,
            "cpu_s": cpu_s,
            "peak_rss_mb": rss.peak / 1e6,
            "written_mb": written_mb,
        }
        if self.args.trace:
            metrics = self.layer_metrics(eng, session_s, len(commits), eps)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
            if not problems:
                with open(os.path.join(RESULTS_DIR, "history.jsonl"), "a") as f:
                    f.write(json.dumps({"workload": self.args.workload, "seed": self.args.seed,
                                        "code": code_fingerprint(), "steal": steal, **e2e}) + "\n")
        return {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}

    def planned_ops(self) -> int:
        """Operations a run attempts when every commit lands: one per
        requested commit batch (or log file, plus one per DDL statement,
        which splits its trigger), one per read and the second apply."""
        n_ddl = sum(op[3].startswith("ddl") for op in self.log.ops)
        n = self.cfg["n_batches"] or (len(self.log.file_bounds) - 1 + n_ddl)
        return n + N_READS + 1

    def _next_job_id(self) -> int:
        import spans as tr

        return tr.max_job_id(self.sc) + 1

    # --------------------------------------------------------------- check
    def check(self, eng) -> list[str]:
        df = eng.state()
        pdf = df.toPandas()
        rows = pdf.astype(object).where(pdf.notna(), None).to_dict("records")
        return gen.compare(self.expected, list(pdf.columns), rows)

    # ------------------------------------------------------------- layers
    def layer_metrics(self, eng, session_s, n_commits, eps) -> dict:
        import probes
        import spans as tr

        t = self.tracer
        self_t = t.self_times()
        calls: dict[str, dict] = {}
        group_layer = {}
        for s in t.spans:
            acc = calls.setdefault(s.name, {"calls": 0, "self_s": 0.0})
            acc["calls"] += 1
            acc["self_s"] += self_t[s.id]
            if s.group:
                group_layer[s.group] = s.name
        jobs: dict[str, dict] = {}
        apply_jobs = 0
        for window, (lo, hi) in self.job_windows.items():
            for group, st in tr.job_stats(self.sc, lo, hi).items():
                if window == "apply":
                    apply_jobs += st["jobs"]
                # jobs of the apply outside every traced call: the skew
                # probe's thread, the streaming trigger's own jobs
                layer = group_layer.get(group, "other" if window == "apply" else None)
                if layer is not None:
                    acc = jobs.setdefault(layer, {"names": []})
                    for k, v in st.items():
                        acc[k] = acc.get(k, 0) + v
        m: dict[str, float] = {"session.start_s": session_s}
        for layer in JOB_LAYERS + ["other"]:
            for stat in JOB_STATS:
                src = calls if stat in ("calls", "self_s") else jobs
                m[f"{layer}.{stat}"] = src.get(layer, {}).get(stat, 0)
        merge = jobs.get("lakehouse.merge", {})
        m["lakehouse.merge.written_mb"] = merge.get("output_mb", 0.0)
        m["lakehouse.merge.spill_mb"] = merge.get("spill_mb", 0.0)
        for layer in ("ddl.apply", "fs.meta"):
            m[f"{layer}.calls"] = calls.get(layer, {}).get("calls", 0)
            m[f"{layer}.self_s"] = calls.get(layer, {}).get("self_s", 0.0)
        m["dedup.salted.calls"] = calls.get("dedup.salted", {}).get("calls", 0)
        m["apply.jobs_per_batch"] = apply_jobs / max(1, n_commits)
        m.update(probes.run(self.log, eng.table.schema()))
        m.update({f"memory.{k}": v for k, v in self.memory.items()})
        overhead = self.trace_overhead(eps)
        t.dump(os.path.join(RESULTS_DIR, f"trace-{self.args.workload}-{self.args.seed}.json"),
               {"workload": self.args.workload, "seed": self.args.seed, "job_windows": self.job_windows,
                "jobs": jobs, "metrics": m, "trace_overhead": overhead})
        return {k: {"value": m[k], "unit": u} for k, u in per_layer_units().items()}

    def trace_overhead(self, traced_eps: float) -> dict:
        """1 - traced events/s over the median of the untraced runs of this
        workload and this code (``code_fingerprint``) recorded in this
        checkout; a diagnostic on standard error, not a metric, since it has
        no value until untraced runs of the same code exist."""
        path = os.path.join(RESULTS_DIR, "history.jsonl")
        code = code_fingerprint()
        vals = []
        if os.path.exists(path):
            with open(path) as f:
                vals = [r["events_per_s"] for r in map(json.loads, f)
                        if r["workload"] == self.args.workload and r.get("code") == code]
        value = 1 - traced_eps / statistics.median(vals) if vals else None
        print("# trace overhead: " + (f"{value:+.3f} against {len(vals)} untraced runs of this code"
                                       if vals else "no untraced run of this code recorded yet"),
              file=sys.stderr)
        return {"value": value, "baseline_runs": len(vals), "code": code}

    # ------------------------------------------------------------- cleanup
    def close(self):
        try:
            self.stop_spark()
        finally:
            # also when stopping failed, or a write to a closed standard
            # error raised
            wait_for_children()
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.dir))
            except OSError:
                pass

    def stop_spark(self):
        for q in self.queries:
            try:
                if q.isActive:
                    q.stop()
            except Exception as e:
                print(f"# cleanup: stopping a query failed: {e}", file=sys.stderr)
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            try:
                self.spark.stop()
            finally:
                if gw is not None:
                    gw.shutdown()
                if proc is not None:
                    # the JVM gateway exits when its standard input closes
                    if proc.stdin is not None:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()


GC_PAUSE = re.compile(r"Pause (?:Young|Full)\b.*? (\d+)([KMG])->(\d+)([KMG])\(")
UNIT = {"K": 2**10, "M": 2**20, "G": 2**30}


def code_fingerprint() -> str:
    """Digest of the engine's and the benchmark's Python sources, so that
    figures recorded for one version of the code are not compared with
    another's."""
    h = hashlib.sha256()
    for pkg in ("logminer_kafka_connect_spark", "cdcbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def gc_heap_peaks(path: str) -> dict:
    """From the JVM's GC log: the largest heap occupancy after a young or
    full collection (the live heap, plus what the collector has not yet
    reclaimed), the largest before one, and the number of collections."""
    live = used = gcs = 0
    with open(path) as f:
        for line in f:
            m = GC_PAUSE.search(line)
            if m:
                gcs += 1
                used = max(used, int(m.group(1)) * UNIT[m.group(2)])
                live = max(live, int(m.group(3)) * UNIT[m.group(4)])
    return {"live": live, "used": used, "gcs": gcs}


def jvm_offheap_bytes(sc) -> int:
    """The JVM's memory outside the heap in use now: metaspace, code cache
    and the direct and mapped buffer pools."""
    jvm = sc._jvm
    mf = jvm.java.lang.management.ManagementFactory
    total = mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
    pools = mf.getPlatformMXBeans(jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    for i in range(pools.size()):
        total += pools.get(i).getMemoryUsed()
    return total


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until every descendant process has ended, reaping this
    process's own children and killing what remains after ``timeout_s``."""
    deadline = time.time() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [p for p in procstat.tree_pids(os.getpid())
                if p != os.getpid() and not procstat.is_zombie(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def main(argv=None) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    os.makedirs(RESULTS_DIR, exist_ok=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        result = run.run(t_start)
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
