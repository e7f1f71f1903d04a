"""Process-tree CPU and memory, host steal, and bytes written, read from
``/proc`` and the file system; nothing here changes the machine."""

from __future__ import annotations

import os
import threading

_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(name)
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def is_zombie(pid: int) -> bool:
    """True when ``pid`` has exited and waits for its parent to reap it
    (or is gone)."""
    f = _stat_fields(str(pid))
    return f is None or f[0] == "Z"


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the live tree, including the children
    each live process has already reaped."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(str(pid))
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TCK


def pss_bytes(pid: int) -> int:
    """Proportional resident memory of ``pid``: pages it shares with other
    processes (the forked Python workers) count in shares."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as f:
            return "jvm" if f.read().strip() == "java" else "workers"
    except OSError:
        return "workers"


class RssSampler:
    """Samples the resident memory (PSS) of the process tree in a daemon
    thread and keeps the peak, in total and for the benchmark's own process,
    the JVM and the other processes (the Python workers)."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_role = {"driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while True:
            if n % 4 == 0:
                pids = tree_pids(self.root)
            by_role = {"driver": 0, "jvm": 0, "workers": 0}
            for pid in pids:
                by_role[_role(pid, self.root)] += pss_bytes(pid)
            self.peak = max(self.peak, sum(by_role.values()))
            for r, v in by_role.items():
                self.peak_by_role[r] = max(self.peak_by_role[r], v)
            n += 1
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def file_sizes(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for name in files:
                p = os.path.join(d, name)
                try:
                    out[p] = os.stat(p).st_size
                except OSError:
                    pass
    return out


def new_bytes(before: dict[str, int], *roots: str) -> int:
    """Bytes of the files under ``roots`` that were not there in ``before``."""
    return sum(size for p, size in file_sizes(*roots).items() if p not in before)
