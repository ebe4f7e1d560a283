"""Spark's own job, stage and SQL metrics, read between two points in time.

``SparkProbe.snapshot()`` notes the newest job and SQL execution ids;
``delta(a, b)`` sums the metrics of every job, stage and SQL execution that
started between the two snapshots. Everything is read from the driver's
live status stores (no UI or REST server is needed):

- stages: ``AppStatusStore.stageData`` (run/CPU/GC time, shuffle, spill,
  failed tasks) and ``taskSummary`` for the max / median task time;
- SQL: ``SQLAppStatusStore`` plan metrics named "time to run Python
  workers", "data sent to Python workers" and "data returned from Python
  workers", which Spark prints as strings such as
  ``"total (min, med, max ...)\\n13.9 s (3.4 s, ...)"``.
"""

from __future__ import annotations

import re

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]*),(\d+),(\w+)\)")

COUNTS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_records", "spill_bytes", "task_skew",
    "failed_tasks", "python_s", "python_bytes",
)


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric: the first number on the last line
    (or the only line) times its unit."""
    if not text:
        return 0.0
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([0-9][0-9,.]*)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1.0)


class SparkProbe:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._empty = gw.jvm.java.util.Collections.emptyList()

    def _job_ids(self) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(None))

    def _sql_ids_after(self, after: int) -> list[int]:
        """Ids of SQL executions newer than ``after`` (the list is sorted
        by id, so walk it from the end)."""
        execs = self.sql.executionsList()
        out = []
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= after:
                break
            out.append(eid)
        return out

    def snapshot(self) -> dict:
        jobs = self._job_ids()
        sql = self._sql_ids_after(-1)[:1]
        return {"job": jobs[-1] if jobs else -1, "sql": sql[0] if sql else -1}

    def delta(self, before: dict, after: dict) -> dict:
        out = dict.fromkeys(COUNTS, 0.0)
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        new_jobs = [j for j in self._job_ids() if before["job"] < j <= after["job"]]
        for j in new_jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out["jobs"] = len(new_jobs)
        worst_stage = (-1.0, 1.0)  # (run time, skew) of the longest stage
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, self._empty, False, self._no_quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                run_s = s.executorRunTime() / 1e3
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["failed_tasks"] += s.numFailedTasks()
                out["executor_run_s"] += run_s
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["shuffle_read_records"] += s.shuffleReadRecords()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                if run_s > worst_stage[0] and s.numTasks() > 1:
                    worst_stage = (run_s, self._skew(sid, s.attemptId()))
        out["task_skew"] = worst_stage[1]
        for eid in self._sql_ids_after(before["sql"]):
            if eid <= after["sql"]:
                self._add_sql(eid, out)
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        summary = self.store.taskSummary(stage_id, attempt, self._quantiles)
        if not summary.isDefined():
            return 1.0
        q = summary.get().executorRunTime()
        med, top = q.apply(0), q.apply(1)
        return top / med if med > 0 else 1.0

    def _add_sql(self, execution_id: int, out: dict) -> None:
        # one call lists every plan metric as "SQLPlanMetric(name,id,type)";
        # only the few Python-worker metrics are then looked up by id
        execution = self.sql.execution(execution_id)
        if not execution.isDefined():
            return
        listing = execution.get().metrics().toString()
        wanted = [(n, int(a)) for n, a, _ in _PLAN_METRIC.findall(listing) if n == _PY_TIME or n in _PY_BYTES]
        if not wanted:
            return
        values = self.sql.executionMetrics(execution_id)
        for name, acc in wanted:
            v = values.get(acc)
            total = parse_metric(v.get() if v.isDefined() else None)
            out["python_s" if name == _PY_TIME else "python_bytes"] += total
