"""In-memory spans around every call the benchmark makes into a layer.

A span records name, start, end, parent span and request id (the op it
serves). While a span is open, Spark jobs started from this thread run
under the span's own job group, so jobs, stages and tasks are charged
to the innermost layer call that caused them. Spans stay in memory and
are written as JSON lines when the run ends. With tracing off,
``span`` is a shared no-op context and nothing is recorded.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from pyspark import SparkContext

_OFF = contextlib.nullcontext()
_IDLE_GROUP = "perfbench-untraced"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1

    def span(self, name: str, request: int | None = None):
        return self._span(name, request) if self.enabled else _OFF

    @contextlib.contextmanager
    def _span(self, name: str, request: int | None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent["request"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "group": f"perfbench-span-{self._next_id}",
        }
        self._next_id += 1
        self._stack.append(rec)
        self._set_group(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self._set_group(parent["group"], parent["name"])
            else:
                self._set_group(_IDLE_GROUP, "untraced")

    @staticmethod
    def _set_group(group: str, desc: str) -> None:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(group, desc)

    def attach_spark_counts(self, spans: list[dict]) -> None:
        """Look up jobs/stages/tasks per span by job group. Call right
        after the spans close, while the status store still holds them."""
        sc = SparkContext._active_spark_context
        if sc is None:
            return
        tracker = sc.statusTracker()
        for rec in spans:
            if "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        stages += 1
                        tasks += stage.numTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def since(self, mark: int) -> list[dict]:
        return [s for s in self.spans if s["id"] >= mark]

    def mark(self) -> int:
        return self._next_id

    def write(self, path: str) -> None:
        own = self_times(self.spans)
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(dict(rec, self_s=own[rec["id"]])) + "\n")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → own duration minus the time its direct children cover
    (children of one span never overlap: the benchmark is one thread)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    names = {s["id"]: s["name"] for s in spans}
    out: dict[str, float] = defaultdict(float)
    for sid, t in self_times(spans).items():
        out[layer_of(names[sid])] += t
    return dict(out)
