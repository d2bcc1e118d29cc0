"""Spans around calls into the engine's public functions.

A span records its name, start, end, parent span and op id. Spans opened on
the main thread also record the Spark jobs, launched stages, tasks and
failed tasks that ran inside them: job ids are sequential, so the jobs of a
span are the ids the scheduler handed out between its start and its end.
Spans opened on other threads (the runner's concurrent sink writes) overlap
each other, so they record time only.

Spans stay in memory; ``dump`` writes them out once, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


def union_s(spans: list[dict]) -> float:
    """Length of the union of the spans' intervals: overlaps count once."""
    total, end = 0.0, None
    for s in sorted(spans, key=lambda s: s["start"]):
        if end is None or s["start"] > end:
            total += s["end"] - s["start"]
            end = s["end"]
        elif s["end"] > end:
            total += s["end"] - end
            end = s["end"]
    return total


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.spans: list[dict] = []
        self.op: int | None = None  # op id stamped on every span

    # -- Spark job accounting -------------------------------------------------

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _job_counts(self, first: int, end: int) -> dict:
        # the listener bus delivers task/job end events asynchronously; drain
        # it so the status store holds final counts for every job
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        stages = tasks = failed = 0
        for job_id in range(first, end):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None:
                    continue
                ran = st.numCompletedTasks + st.numFailedTasks
                stages += ran > 0  # skipped stages (reused shuffles) launch nothing
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": end - first, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        main = threading.current_thread() is threading.main_thread()
        stack = self._stack()
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        rec = {
            "id": span_id,
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": self.op,
            "thread": threading.current_thread().name,
        }
        first_job = self._next_job_id() if main else None
        stack.append(span_id)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if first_job is not None:
                rec.update(self._job_counts(first_job, self._next_job_id()))
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a version that runs inside a span named
        ``name``. Returns a function that puts the original back."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    # -- analysis -------------------------------------------------------------

    def self_times(self) -> None:
        """Set ``self_s`` on every span: its duration minus the part of its
        interval covered by its children (overlapping children counted once)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["self_s"] = (s["end"] - s["start"]) - union_s(children.get(s["id"], []))

    def named(self, name: str, op: int | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (op is None or s["op"] == op)]

    def dump(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
