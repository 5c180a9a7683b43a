"""Spans recorded around the benchmark's calls into each program layer.

A span has a name, start, end, parent and request id. Spans stay in
memory and are written out once, when the run ends. Every span (and,
with tracing off, every request) runs under its own Spark job group, so
the jobs, stages, tasks and failed tasks Spark ran inside it can be read
back from ``SparkContext.statusTracker()`` after the timed region.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    def bind(self, sc) -> None:
        """Use ``sc`` for job groups (the session the workload runs on)."""
        self.sc = sc

    def _new_group(self, name: str) -> str:
        self._next_id += 1
        return f"pb{self._next_id}:{name}"

    def _set_group(self, group: str | None) -> None:
        # None: jobs outside any request (set-up, checks) share one group
        group = group or "pb:outside"
        self.sc.setJobGroup(group, group)

    @contextmanager
    def request(self, name: str, traced: bool):
        """One timed request. Its job group is set whether or not the
        request is traced, so failed Spark tasks are always attributed."""
        group = self._new_group(name)
        rec = {"id": group, "name": name, "parent": None, "request": group,
               "traced": traced, "group": group}
        self._set_group(group)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(None)
            self.spans.append(rec)

    @contextmanager
    def span(self, name: str):
        """A layer span inside the current traced request; a no-op when
        the current request is untraced."""
        parent = self._stack[-1] if self._stack else None
        if parent is None or not parent["traced"]:
            yield {}
            return
        group = self._new_group(name)
        rec = {"id": group, "name": name, "parent": parent["id"],
               "request": parent["request"], "traced": True, "group": group}
        self._set_group(group)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["group"])
            self.spans.append(rec)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call (for functions the
        program calls internally, such as the index catalog lookup)."""

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def collect_spark_counts(self) -> None:
        """Attach jobs/stages/tasks/failed tasks to every span. Call
        after the timed region: it makes a few py4j calls per span."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = failed = 0
            for jid in st.getJobIdsForGroup(rec["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    sinfo = st.getStageInfo(sid)
                    if sinfo is None:
                        continue
                    stages += 1
                    tasks += sinfo.numTasks
                    failed += sinfo.numFailedTasks
            rec["spark"] = {"jobs": jobs, "stages": stages, "tasks": tasks,
                            "tasks_failed": failed}

    def self_times(self) -> dict[str, float]:
        """Span id -> duration minus the part its child spans cover.
        Children of one span run one after another on one thread, so
        the covered part is the sum of their durations."""
        child_time: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        return {r["id"]: r["end"] - r["start"] - child_time[r["id"]]
                for r in self.spans}

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)
