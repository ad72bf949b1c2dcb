"""Measurement helpers: percentiles, due-time latency, process-tree RSS,
on-disk bytes. Pure stdlib, no Spark import, so the harness tests run
without a session."""

from __future__ import annotations

import math
import os
import statistics
import threading
from dataclasses import dataclass
from pathlib import Path

# a percentile is reported only if at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    idx = max(0, math.ceil(p / 100.0 * len(s)) - 1)
    return s[idx]


def p90(values, min_beyond: int = MIN_BEYOND) -> float | None:
    """The nearest-rank p90, or None when fewer than ``min_beyond``
    samples lie beyond its rank."""
    n = len(values)
    if n - max(1, math.ceil(0.9 * n)) < min_beyond:
        return None
    return percentile(values, 90)


def median(values) -> float:
    return statistics.median(values)


@dataclass
class Request:
    """One open-loop request: when it was due, when a client thread sent
    it and when its reply arrived (all on one monotonic clock)."""
    due: float
    sent: float
    done: float

    @property
    def latency(self) -> float:
        """Latency from the due time: a stall that delays later sends is
        charged to the requests that waited behind it."""
        return self.done - self.due

    @property
    def late(self) -> float:
        """How late the generator sent this request."""
        return self.sent - self.due

    @property
    def service(self) -> float:
        return self.done - self.sent


def schedule_lag(reqs: list[Request], behind_s: float = 1.0) -> dict:
    """Generator lateness over a run: median and max send delay, and
    whether the run fell behind (the last quarter of the schedule was sent
    more than ``behind_s`` late on median, i.e. a backlog never drained)."""
    if not reqs:
        return {"late_p50_s": 0.0, "late_max_s": 0.0, "behind": False}
    lates = [r.late for r in sorted(reqs, key=lambda r: r.due)]
    tail = lates[-max(1, len(lates) // 4):]
    return {"late_p50_s": median(lates), "late_max_s": max(lates),
            "behind": median(tail) > behind_s}


def dir_bytes(path) -> int:
    p = Path(path)
    if not p.exists():
        return 0
    if p.is_file():
        return p.stat().st_size
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def parquet_rows(path) -> int:
    """Row count of a parquet directory, from the file footers."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows for f in Path(path).glob("*.parquet"))


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants (driver, JVM, Python workers)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(kids.get(pid, ()))
    return seen


def tree_rss_parts(root: int) -> dict[str, int]:
    """Summed RSS bytes of the process tree of ``root``, split into the
    Python driver (``root``), the JVM and the Python workers (the pyspark
    daemon and the workers it forks), with the worker process count."""
    page = os.sysconf("SC_PAGE_SIZE")
    parts = {"driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if pid == root:
            parts["driver"] += rss
        elif comm == "java":
            parts["jvm"] += rss
        else:
            parts["workers"] += rss
            parts["n_workers"] += 1
    return parts


class RssSampler:
    """Background sampler of the summed RSS of this process tree; keeps the
    split of the sample with the highest total."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_parts = {"driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            parts = tree_rss_parts(me)
            total = parts["driver"] + parts["jvm"] + parts["workers"]
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            if self._stop.is_set():
                return          # after one last sample
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
