"""In-memory span recorder for the traced benchmark run.

A span has a name, start, end and parent. While a span is the innermost
open one, every Spark job runs under its own job group, so the span's
Spark counts (jobs, stages actually run, failed tasks) are read back from
``statusTracker`` when it closes: they are self counts, never double
counted by the parent. Work the benchmark does for itself inside a span
(statistics, checks) runs under :meth:`Tracer.untimed` and is subtracted
from that span's self time.

Nothing is written until :meth:`Tracer.write`, at the end of the run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)

    def _group(self, span: dict | None) -> None:
        gid = f"span-{span['id']}" if span else "untraced"
        self.sc.setJobGroup(gid, span["name"] if span else gid)

    def begin(self, name: str) -> dict:
        span = {
            "id": len(self.spans), "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.perf_counter(), "end": None, "excluded": 0.0,
            "spark_jobs": 0, "spark_stages": 0, "tasks_failed": 0,
        }
        self.spans.append(span)
        self.stack.append(span)
        self._group(span)
        return span

    def end(self, span: dict) -> None:
        assert self.stack and self.stack[-1] is span, f"unbalanced span {span['name']}"
        span["end"] = time.perf_counter()
        self._collect_counts(f"span-{span['id']}", span)
        self.stack.pop()
        if self.stack:  # reading the counts is not the parent's work
            self.stack[-1]["excluded"] += time.perf_counter() - span["end"]
        self._group(self.stack[-1] if self.stack else None)

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    @contextmanager
    def untimed(self):
        """Benchmark-side work inside the current span: its time and its
        Spark jobs are kept out of every span."""
        start = time.perf_counter()
        self.sc.setJobGroup("untimed", "untimed")
        try:
            yield
        finally:
            if self.stack:
                self.stack[-1]["excluded"] += time.perf_counter() - start
            self._group(self.stack[-1] if self.stack else None)

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def _collect_counts(self, group: str, span: dict) -> None:
        for job_id in self.tracker.getJobIdsForGroup(group):
            job = self.tracker.getJobInfo(job_id)
            if job is None:
                continue
            span["spark_jobs"] += 1
            for stage_id in job.stageIds:
                stage = self.tracker.getStageInfo(stage_id)
                if stage is not None:  # skipped stages are never submitted
                    span["spark_stages"] += 1
                    span["tasks_failed"] += stage.numFailedTasks

    def self_times(self) -> dict[int, float]:
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: s["end"] - s["start"] - child_time[s["id"]] - s["excluded"]
            for s in self.spans
        }

    def by_name(self) -> dict[str, dict[str, float]]:
        """Per span name: summed self seconds and self Spark counts."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            agg = out[s["name"]]
            agg["self_s"] += selfs[s["id"]]
            agg["total_s"] += s["end"] - s["start"]
            agg["calls"] += 1
            for k in ("spark_jobs", "spark_stages", "tasks_failed"):
                agg[k] += s[k]
        return out

    def by_layer(self) -> dict[str, dict[str, float]]:
        """Per layer (the span name up to its first dot)."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for name, agg in self.by_name().items():
            layer = out[name.split(".")[0]]
            for k in ("self_s", "spark_jobs", "spark_stages", "tasks_failed"):
                layer[k] += agg[k]
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        selfs = self.self_times()
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": selfs[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "by_name": self.by_name(),
                       "by_layer": self.by_layer(), "counts": dict(self.counts),
                       **extra}, fh, indent=1)
