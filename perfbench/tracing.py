"""In-memory spans and Spark job-group counts for the traced run.

Spans are recorded only in the benchmark's own code, around calls into
each layer's public functions; nothing inside the program is traced.
A span is (name, start, end, parent, request id); spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    """Records nested spans when ``enabled``; a no-op otherwise, so the
    untraced run pays one attribute test per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.request_id: Optional[str] = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request_id,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextmanager
    def request(self, request_id: str, name: str = "bench.op"):
        """A root span whose children share ``request_id``."""
        prev, self.request_id = self.request_id, request_id
        try:
            with self.span(name):
                yield
        finally:
            self.request_id = prev

    def self_times(self) -> Dict[str, float]:
        """Seconds per layer (the span-name prefix before the first dot)
        that no child span covers."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Counts the Spark jobs, stages and tasks one call schedules: a job
    group is set around the call and read back through statusTracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def group(self, out: dict):
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stages = [
                sid for j in jobs
                for sid in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])
            ]
            tasks = 0
            for sid in stages:
                info = tracker.getStageInfo(sid)
                tasks += info.numTasks if info else 0
            out["jobs"] = len(jobs)
            out["tasks"] = tasks
