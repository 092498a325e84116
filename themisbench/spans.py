"""Spans and Spark job counts for the traced run.

A span is recorded around each public call the benchmark makes: name,
start, end, parent span and request id. Spans stay in memory and are
written out once, at the end of the run. A layer's self time is its
span's duration minus the time its child spans cover.

The untraced run uses ``Tracer(False)``, whose ``span`` records nothing
and opens no Spark job group, so end-to-end timings carry no tracing
cost.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request=None, *, jobs: bool = False):
        """Record a span around the block. ``jobs=True`` also tags the
        Spark jobs the block launches, for :meth:`job_counts`."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "request": request,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, "job_group": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if jobs:
            rec["job_group"] = f"themisbench-{rec['id']}"
            self.sc.setJobGroup(rec["job_group"], name)
        try:
            yield rec
        finally:
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def phases(self, parent: dict | None, prefix: str, timings: dict) -> None:
        """Child spans for the phases a public call timed itself (its
        ``timings=`` dict, in the order the call ran them), laid end to
        end from the parent's start."""
        if parent is None:
            return
        t = parent["start"]
        for key, sec in timings.items():
            self.spans.append({
                "id": len(self.spans), "name": f"{prefix}.{key}",
                "request": parent["request"], "parent": parent["id"],
                "start": t, "end": t + sec, "job_group": None,
            })
            t += sec

    def job_counts(self, names: tuple[str, ...]) -> dict[str, tuple[int, int]]:
        """(jobs, tasks) per span, for spans named in ``names`` that
        tagged their jobs, read from ``SparkContext.statusTracker()``.
        Call after the timed part: the tracker fills asynchronously."""
        time.sleep(0.5)
        st = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            if s["name"] not in names or not s["job_group"]:
                continue
            jobs = st.getJobIdsForGroup(s["job_group"])
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            out[s["id"]] = (len(jobs), tasks)
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)
