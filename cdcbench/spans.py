"""Spans around the engine's public layer calls, with Spark job statistics
per span.

Each wrapped call records a span (name, start, end, parent) in memory. A
call into a layer that runs Spark jobs sets a job group of its own in the
calling thread for its duration, so the jobs it starts (also in a worker
thread, such as the open-transaction watermark) are attributed to it and
not to its caller. After the run, each group's stages are read from
Spark's status store: task time, shuffle write, input, output and spill.
A stage is counted once, for the first job that ran it; stages a job
skipped are counted as skipped.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "cdcbench-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str | None
    thread: str


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.recording = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ wrapping
    def wrap(self, owner, attr: str, name: str, jobs: bool = True) -> None:
        """Replace ``owner.attr`` by a traced version; ``jobs`` gives the
        call a job group of its own."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, jobs, orig, *args, **kwargs)

        setattr(owner, attr, traced)

    def call(self, name: str, jobs: bool, fn, *args, **kwargs):
        if not self.recording:
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        group = prev = None
        if jobs:
            group = f"{GROUP_PREFIX}{sid}"
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, group)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if jobs:
                self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, group,
                                       threading.current_thread().name))

    def span(self, name: str, fn, *args, **kwargs):
        """Record ``fn(*args)`` as a span with its own job group."""
        return self.call(name, True, fn, *args, **kwargs)

    # ------------------------------------------------------------ analysis
    def self_times(self) -> dict[int, float]:
        """Span wall time minus the time covered by its nested spans."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        return {s.id: (s.end - s.start) - child_time.get(s.id, 0.0) for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def _opt(x):
    return None if x.isEmpty() else x.get()


def job_stats(sc, first_job: int, last_job: int) -> dict[str | None, dict]:
    """Per job group, for the jobs with ids in ``[first_job, last_job]``:
    jobs (and their names), skipped stages, and task time and bytes of the
    stages each group ran first."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    jobs = store.jobsList(None)
    rows = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = j.jobId()
        if first_job <= jid <= last_job:
            stage_ids = j.stageIds()
            rows.append((jid, _opt(j.jobGroup()),
                         [stage_ids.apply(k) for k in range(stage_ids.size())],
                         j.numSkippedStages(), j.name()))
    rows.sort()
    out: dict[str | None, dict] = {}
    seen: set[int] = set()
    empty_tasks = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    for jid, group, stage_ids, skipped, name in rows:
        acc = out.setdefault(group, {"jobs": 0, "skipped_stages": 0, "task_s": 0.0,
                                     "shuffle_mb": 0.0, "input_mb": 0.0,
                                     "output_mb": 0.0, "spill_mb": 0.0, "names": []})
        acc["jobs"] += 1
        acc["names"].append(name)
        acc["skipped_stages"] += skipped
        for sid in stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                attempts = store.stageData(sid, False, empty_tasks, False, no_quantiles)
            except Py4JJavaError:  # evicted from the store: nothing to count
                continue
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                if sd.status().toString() == "SKIPPED":
                    continue
                acc["task_s"] += sd.executorRunTime() / 1e3
                acc["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
                acc["input_mb"] += sd.inputBytes() / 1e6
                acc["output_mb"] += sd.outputBytes() / 1e6
                acc["spill_mb"] += sd.diskBytesSpilled() / 1e6
    return out


def max_job_id(sc) -> int:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
