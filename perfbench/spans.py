"""Spans around layer calls, and per-layer metrics from Spark's status store.

Each span runs its Spark jobs under its own job group, so the jobs, stages
and SQL executions of a layer can be read back from the status store after
the run; nothing here adds a Spark job. Spans are kept in memory and
written once, by the caller, when the run ends.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

NEUTRAL_GROUP = "perfbench.untraced"
ROWS = "number of output rows"
#: sql_metrics key of the rows that reach each execution's sink: the output
#: rows of the plan node nearest the root (plan graph ids count from it)
SINK_ROWS = ("sink", ROWS)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Time the body as span *name*; its Spark jobs get job group *name*."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            sc.setJobGroup(self._stack[-1] if self._stack else NEUTRAL_GROUP,
                           "")
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Read-only view of the application's job, stage and SQL stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jobs: dict[str, list[tuple[int, list[int]]]] = {}
        for j in _seq(self.store.jobsList(None)):
            group = _opt(j.jobGroup())
            self.jobs.setdefault(group, []).append(
                (j.jobId(), _seq(j.stageIds())))

    def layer(self, groups: list[str]) -> dict:
        """Executor metrics summed over the stages of *groups*' jobs, and
        the task skew (max / median task time) of their busiest stage."""
        job_ids, stage_ids = [], set()
        for g in groups:
            for jid, sids in self.jobs.get(g, []):
                job_ids.append(jid)
                stage_ids.update(sids)
        out = {"jobs": len(job_ids), "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0}
        busiest = None
        for sid in sorted(stage_ids):
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            if st.numTasks() >= 2 and (
                    busiest is None
                    or st.executorRunTime() > busiest.executorRunTime()):
                busiest = st
        if busiest is not None:
            out["task_skew"] = self._skew(busiest)
        out["job_ids"] = job_ids
        return out

    def _skew(self, stage) -> float:
        """max / median task run time of one stage."""
        qs = self._gw.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = _opt(self.store.taskSummary(
            stage.stageId(), stage.attemptId(), qs))
        if summary is None:
            return 1.0
        run = summary.executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def _executions(self, job_ids: list[int]) -> list:
        wanted = set(job_ids)
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        return [ex for ex in _seq(self.sql.executionsList())
                if wanted & set(conv.asJava(ex.jobs().keySet()))]

    def executions(self, job_ids: list[int]) -> int:
        """Number of SQL executions (queries) that ran any of *job_ids*."""
        return len(self._executions(job_ids))

    def sql_metrics(self, job_ids: list[int]) -> dict[tuple[str, str], float]:
        """(plan node, metric name) -> total, summed over the SQL executions
        that ran any of *job_ids*; plus :data:`SINK_ROWS`."""
        totals: dict[tuple[str, str], float] = {}
        for ex in self._executions(job_ids):
            values = self.sql.executionMetrics(ex.executionId())
            root = None  # (node id, rows) of the node nearest the sink
            for node in _seq(self.sql.planGraph(ex.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    text = _opt(values.get(m.accumulatorId()))
                    if text is None:
                        continue
                    key = (node.name(), m.name())
                    value = _parse_total(text, m.metricType())
                    totals[key] = totals.get(key, 0.0) + value
                    if m.name() == ROWS and (root is None
                                             or node.id() < root[0]):
                        root = (node.id(), value)
            if root is not None:
                totals[SINK_ROWS] = totals.get(SINK_ROWS, 0.0) + root[1]
        return totals


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40}


def _parse_total(text: str, metric_type: str) -> float:
    """Total of a rendered SQL metric: ``"1,234"`` for sums, or the first
    value after the ``total (min, med, max ...)`` caption for timings and
    sizes. Timings come back in seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    if metric_type == "sum":
        return float(line.replace(",", ""))
    m = re.match(r"([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)
