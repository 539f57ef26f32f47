"""Spans recorded by the benchmark around its calls into each layer,
and Spark work counts read back per job group.

A span is (layer, name, start, end, parent span, op id). Spans live in
memory and are written out once, when the run ends. A layer's self time
is its spans' durations minus the parts covered by their child spans.
With tracing off, ``span`` records nothing and costs one branch.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []  # [layer, name, start, end, parent, op]
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [layer, name, time.perf_counter(), None, parent, op]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()

    def add(self, layer: str, name: str, start: float, end: float, parent: int | None,
            op: str | None = None) -> int:
        """Record a span measured elsewhere (a micro-batch read back from
        the query's progress reports); returns its id for children."""
        self.spans.append([layer, name, start, end, parent, op])
        return len(self.spans) - 1

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def self_times(self) -> dict[str, float]:
        """Self time summed per layer."""
        children: dict[int, list[tuple[float, float]]] = {}
        for layer, _n, s, e, parent, _op in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((s, e))
        out: dict[str, float] = {}
        for sid, (layer, _n, s, e, _p, _op) in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for cs, ce in sorted(children.get(sid, ())):
                cs, ce = max(cs, s), min(ce, e)
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[layer] = out.get(layer, 0.0) + max(0.0, (e - s) - covered)
        return out

    def write(self, path: str) -> None:
        keys = ("layer", "name", "start", "end", "parent", "op")
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(dict(zip(keys, rec))) + "\n")


def spark_work(sc, group: str, moved: dict[int, str] | None = None) -> dict[str, dict[str, int]]:
    """Jobs, stages, tasks and failed tasks of one job group, read from
    the status tracker, keyed by layer: "" for the group's own layer, or
    the layer ``moved`` assigns to a job id."""
    st = sc.statusTracker()
    out: dict[str, dict[str, int]] = {}
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        if job is None:
            continue
        stages = [st.getStageInfo(s) for s in job.stageIds]
        stages = [s for s in stages if s is not None]
        layer = (moved or {}).get(jid, "")
        c = out.setdefault(layer, {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0})
        c["jobs"] += 1
        c["stages"] += len(stages)
        c["tasks"] += sum(s.numTasks for s in stages)
        c["failed_tasks"] += sum(s.numFailedTasks for s in stages)
    return out


def write_jobs(spark, after: int) -> tuple[set[int], int]:
    """Job ids of the SQL executions after execution id ``after`` whose
    plan writes files (InsertIntoHadoopFsRelationCommand), and the last
    execution id seen."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    ids: set[int] = set()
    last = after
    for i in range(executions.size()):
        ex = executions.apply(i)
        eid = ex.executionId()
        if eid <= after:
            continue
        last = max(last, eid)
        if "InsertIntoHadoopFsRelationCommand" in (ex.physicalPlanDescription() or "")[:200]:
            jobs = ex.jobs().keySet().toSeq()
            ids.update(jobs.apply(k) for k in range(jobs.size()))
    return ids, last
