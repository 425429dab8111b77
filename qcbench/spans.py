"""In-memory spans around calls into the library's layers, plus Spark
counters read from the driver's status store.

A span records its name, start, end, parent span and operation id.  The
outermost audited span on the stack runs its call under
``plans.job_audit``, so Spark jobs, tasks and bytes are counted at the
same boundary; nested spans inherit nothing and count nothing.  With
tracing off, :meth:`Tracer.call` is a plain call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict

from qctimeseries_spark.plans import job_audit


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._audited = 0  # depth of audited spans on the stack

    def call(self, name: str, op, fn, *, audit: bool = True):
        """Run ``fn()`` inside a span named ``name`` (``layer.call``)."""
        if not self.enabled:
            return fn()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        counted = audit and not self._audited
        try:
            if counted:
                self._audited += 1
                a = job_audit(self.spark, fn)
                result = a.pop("result")
                rec["counters"] = a
            else:
                result = fn()
        finally:
            if counted:
                self._audited -= 1
            self._stack.pop()
            rec["end"] = time.perf_counter()
        return result

    def add(self, name: str, op, start: float, end: float, **counters) -> None:
        """Record a span measured elsewhere (a stream's micro-batches,
        which run on the query's threads), as a child of the open span."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "op": op, "start": start, "end": end,
                "counters": counters,
            })

    # -- reading the spans back ---------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def jobs(self, name: str) -> list[int]:
        """Spark jobs of each span named ``name`` (0 when not audited)."""
        return [
            s.get("counters", {}).get("jobs", 0)
            for s in self.spans if s["name"] == name
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children of one span run one after another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path, **meta) -> None:
        with open(path, "w") as fh:
            json.dump({**meta, "spans": self.spans}, fh)


class StatusWindow:
    """Totals of every Spark job that ran between construction and
    :meth:`totals` — on any thread, streaming drains included — read
    from the driver's AppStatusStore."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job0 = self._last_job()
        self._exec0 = self._last_execution()

    def _last_job(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def _last_execution(self) -> int:
        ex = self._sql.executionsList()
        return max(
            (ex.apply(i).executionId() for i in range(ex.size())), default=-1
        )

    def totals(self) -> dict:
        jobs = self._store.jobsList(None)
        stage_ids = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > self._job0:
                n_jobs += 1
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = {"jobs": n_jobs, "tasks": 0, "shuffle_bytes": 0, "gc_ms": 0,
               "output_bytes": 0}
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage: no attempt data
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            out["gc_ms"] += sd.jvmGcTime()
            out["output_bytes"] += sd.outputBytes()
        out["dynamic_parts"] = self.sql_metric_sum("number of dynamic part")
        return out

    def sql_metric_sum(self, metric: str) -> int:
        """Sum of one SQL write metric over the executions in the window."""
        ex = self._sql.executionsList()
        total = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= self._exec0:
                continue
            ms = e.metrics()
            ids = [
                ms.apply(k).accumulatorId()
                for k in range(ms.size()) if ms.apply(k).name() == metric
            ]
            if not ids:
                continue
            vals = self._sql.executionMetrics(e.executionId())
            for acc in ids:
                v = vals.get(acc)
                if v.isDefined():
                    total += int(str(v.get()).replace(",", ""))
        return total
