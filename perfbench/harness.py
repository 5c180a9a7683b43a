"""The closed-loop client shared by the workloads: one request at a time,
each timed from outside, failures counted against attempts, memory
sampled after every request."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

from spans import Tracer

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress to stderr; standard output is kept for the results."""
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) for the highest percentile of the ladder that
    has at least 10 samples beyond it; (None, None) under 20 samples."""
    n = len(samples)
    for p in TAIL_LADDER:
        if n * (1 - p / 100) >= 10:
            return p, statistics.quantiles(samples, n=1000, method="inclusive")[
                int(p * 10) - 1
            ]
    return None, None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_hwm_mb(pid: int) -> float:
    """Sum of peak resident memory (VmHWM) over the processes started
    under ``pid``: the driver JVM and its Python workers."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def parquet_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Harness:
    def __init__(self, spark, prog, tracer: Tracer, seconds: float,
                 trace: bool, work: str):
        self.spark = spark
        self.prog = prog
        self.tracer = tracer
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.peak_rss_mb = 0.0
        self.errors: list[str] = []
        self._kind_count: dict[str, int] = defaultdict(int)
        self.deadline = None

    def start_clock(self) -> None:
        log(f"timed loop: {self.seconds:g}s")
        self.deadline = time.perf_counter() + self.seconds

    def time_left(self) -> bool:
        return time.perf_counter() < self.deadline

    def traced_next(self, kind: str) -> bool:
        """With tracing on, timed requests of one kind are traced in the
        pattern T U U T T U U T ..., so one run gives both the per-layer
        split and the untraced latency to weigh the tracing overhead
        against, and a steady drift (warm-up, a growing index) weighs
        alike on both sides of every four."""
        n = self._kind_count[kind]
        self._kind_count[kind] += 1
        return self.trace and n % 4 in (0, 3)

    def op(self, kind: str, fn, traced: bool = False, warm: bool = False):
        """Run one request; return its result, or None if it raised.
        ``warm`` marks a warm-up request, run before the clock starts:
        it is attempted and checked like any other, but its latency is
        left out of the timed samples."""
        with self.tracer.request(kind, traced) as rec:
            rec["warm"] = warm
            try:
                out = fn(traced)
                rec["ok"] = True
            except Exception:  # the run goes on past a failed request
                rec["ok"] = False
                out = None
                self.errors.append(f"{kind}: {traceback.format_exc(limit=4)}")
        self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_mb(os.getpid()))
        return out

    def requests(self, kind: str | None) -> list[dict]:
        """Top-level request records of ``kind`` (None: every kind)."""
        return [r for r in self.tracer.spans
                if r["parent"] is None and kind in (None, r["name"])]

    def finalize(self) -> None:
        """After the timed region: read Spark's job counts back and mark
        a request failed if it raised or if any Spark task inside it
        failed (a retried task still counts)."""
        log("timed loop done")
        self.tracer.collect_spark_counts()
        task_fail: dict[str, int] = defaultdict(int)
        for s in self.tracer.spans:
            task_fail[s["request"]] += s["spark"]["tasks_failed"]
        for r in self.requests(None):
            r["failed"] = not r["ok"] or task_fail[r["id"]] > 0

    def latencies(self, kind: str, traced: bool | None = None,
                  warm: bool | None = False) -> list[float]:
        """Latencies of the successful requests of ``kind``; by default
        the timed ones only (``warm=None``: warm-up ones too)."""
        return [r["end"] - r["start"] for r in self.requests(kind)
                if not r["failed"] and (traced is None or r["traced"] == traced)
                and (warm is None or r["warm"] == warm)]

    def attempted_failed(self) -> tuple[int, int]:
        reqs = self.requests(None)
        return len(reqs), sum(r["failed"] for r in reqs)
