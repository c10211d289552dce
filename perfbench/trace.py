"""In-memory span recorder for the traced run.

A span has a name (``<layer>.<step>``), start, end, parent span and op id.
When a Spark session is attached, each span runs its Spark jobs under a
job group of its own, and its job, stage, task and failed-task counts are
read from Spark's status tracker when it closes. Spans stay in memory;
:meth:`Tracer.finish` adds self times once the run is over.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None  # op id for spans that name none and have no parent

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent]["op"] if parent is not None else self.op
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "group": f"perfbench-span-{sid}", "start": 0.0, "end": 0.0, "wall_s": 0.0,
               "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._count(rec)

    def _count(self, rec: dict) -> None:
        """Spark jobs, stages that ran, tasks and failed tasks of a span's
        job group (its own jobs, not those of its child spans)."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(rec["group"]):
            rec["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            # a stage skipped because its shuffle output was reused ran no task
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompletedTasks + st.numFailedTasks
            rec["failed_tasks"] += st.numFailedTasks

    def finish(self) -> list[dict]:
        """Fill in each span's self time: its wall time minus the part its
        child spans cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["wall_s"]
        for s in self.spans:
            s["self_s"] = s["wall_s"] - child_time[s["id"]]
        return self.spans

    def layer_totals(self) -> dict[str, dict]:
        """Per layer (the span name's prefix): Spark counts summed over all
        of that layer's spans."""
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s["name"].split(".")[0],
                               {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0})
            for k in t:
                t[k] += s[k]
        return out
