"""Spans around the benchmark's calls into each layer of the package.

A traced run (``--trace 1``) records, for every span, its name, start,
end, parent and run id, plus counts taken at the same boundary: Spark
jobs started under the span's job group, executor-metric deltas from
the JVM status store (shuffle read/write, task and GC time) and
the change in session-lifetime persisted RDDs, and the rows the span's
stages read from input tables. Counts are inclusive: a
span's counts cover its children's. Spans stay in memory and are
written as JSON lines when the run ends.

An untraced run gets a :class:`NullTracer`: the same calls, no job
groups, no status-store queries, no span records. End-to-end metrics
never come from spans; the workloads time themselves, so the two runs
differ only by the tracing cost.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Executor counters summed over ``statusStore().executorList(True)``;
# the JVM reports durations in ms. ``totalInputBytes`` is left out: it
# reads near 0 for local parquet scans on Spark 4.1.
_EXEC_FIELDS = {
    "shuffle_read_mb": ("totalShuffleRead", 1 / 2**20),
    "shuffle_write_mb": ("totalShuffleWrite", 1 / 2**20),
    "task_s": ("totalDuration", 1e-3),
    "gc_s": ("totalGCTime", 1e-3),
}


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, run_id: str, origin: float):
        self.run_id = run_id
        self.origin = origin
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.sc = None  # set once the session exists

    def _executor_totals(self) -> dict:
        # The status store is fed by the asynchronous listener bus: let
        # it catch up with the tasks that have already ended.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        store = self.sc._jsc.sc().statusStore()
        totals = dict.fromkeys(_EXEC_FIELDS, 0.0)
        it = store.executorList(True).iterator()
        while it.hasNext():
            ex = it.next()
            for key, (field, scale) in _EXEC_FIELDS.items():
                totals[key] += getattr(ex, field)() * scale
        return totals

    def _input_rows(self, job_ids) -> int:
        """Rows the jobs' stages read from input tables (the executor
        input-byte counter is left out, see ``_EXEC_FIELDS``)."""
        store = self.sc._jsc.sc().statusStore()
        rows = 0
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    rows += store.lastStageAttempt(sid).inputRecords()
                except Py4JJavaError:  # skipped stages have no attempt
                    pass
        return rows

    def _persisted(self) -> int:
        return self.sc._jsc.sc().getPersistentRDDs().size()

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer. The yielded dict receives the
        span's counts when it closes and may take extra fields."""
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None, "run": self.run_id}
        sc = self.sc
        if sc is not None:
            group = f"{self.run_id}:{sid}"
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
            before = self._executor_totals()
            persisted = self._persisted()
        self._stack.append(rec)
        rec["start"] = time.perf_counter() - self.origin
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.origin
            self._stack.pop()
            if sc is not None:
                after = self._executor_totals()
                # A child's jobs ran under the child's group.
                jobs = sc.statusTracker().getJobIdsForGroup(group)
                own = {"jobs": len(jobs), "input_rows": self._input_rows(jobs)}
                for key, value in own.items():
                    rec[key] = rec.pop(f"child_{key}", 0) + value
                    if parent is not None:
                        parent[f"child_{key}"] = parent.get(f"child_{key}", 0) + rec[key]
                for key in _EXEC_FIELDS:
                    rec[key] = after[key] - before[key]
                rec["persisted_rdd_delta"] = self._persisted() - persisted
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev_group, "")
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer (the span name up to its first ``.``) not
    covered by the span's children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out
