"""Reads Spark's own accounting for one query through py4j: the status
store (jobs and stages per job group), the SQL status store (Python-worker
and write metrics of each SQL execution), the planning tracker of every
SQL execution the query runs (through a query execution listener), the
code generator's compile counters and the block manager's cached RDDs.
Traced runs read all of it; timed runs read only the cache footprint
after each pass."""

from __future__ import annotations

import json
import re

from pyspark.java_gateway import ensure_callback_server_started

from measure import Ledger, coverage, parse_sql_metric

# SQL metric name -> layer counter it adds to
SQL_METRICS = {
    "time to run Python workers": "python.eval_s",
    "time to initialize Python workers": "python.init_s",
    "time to start Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "number of written files": "write.files",
    "task commit time": "write.commit_s",
    "job commit time": "write.commit_s",
}

# StageData field -> (layer counter, scale to seconds/bytes/records)
STAGE_FIELDS = {
    "numTasks": ("exec.tasks", 1),
    "executorRunTime": ("exec.task_run_s", 1e-3),
    "executorCpuTime": ("exec.task_cpu_s", 1e-9),
    "jvmGcTime": ("exec.gc_s", 1e-3),
    "inputBytes": ("scan.bytes", 1),
    "inputRecords": ("scan.records", 1),
    "outputBytes": ("write.bytes", 1),
    "outputRecords": ("write.records", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle.fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill.bytes", 1),
    "diskBytesSpilled": ("spill.bytes", 1),
}

PHASES = {"analysis": "plan.analysis_s", "optimization": "plan.optimization_s",
          "planning": "plan.planning_s"}


def tracker_phases(qe) -> dict[str, float]:
    """Seconds per planning phase a ``QueryExecution`` has run so far."""
    phases = qe.tracker().phases()
    out = {}
    for phase, name in PHASES.items():
        p = phases.get(phase)
        out[name] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


class PlanListener:
    """JVM ``QueryExecutionListener`` implemented in Python: the listener
    bus hands it the ``QueryExecution`` of every finished SQL execution,
    the one that actually ran, and it keeps that execution's phases."""

    def __init__(self) -> None:
        self.phases: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - JVM API
        self.phases.append(tracker_phases(qe))

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - JVM API
        self.phases.append(tracker_phases(qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkLayers:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc
        self.ssc = self.jsc.sc()
        self.jvm = spark._jvm
        self.store = self.ssc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        codegen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen
        self.codegen_gen = codegen.CodeGenerator
        self.codegen_hist = (self.jvm.org.apache.spark.metrics.source
                             .CodegenMetrics.METRIC_COMPILATION_TIME())
        self.ledger = Ledger()
        # status-store records come back as one JSON string per record
        # instead of one py4j round trip per field
        self.json = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = self.jvm.com.fasterxml.jackson.module.scala
        self.json.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
        self.quantiles = self.sc._gateway.new_array(self.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0
        self.listeners = spark._jsparkSession.listenerManager()
        self.plans = PlanListener()

    # -- job groups -------------------------------------------------------
    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.jsc.clearJobGroup()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.ssc.listenerBus().waitUntilEmpty()

    def listen(self, on: bool) -> None:
        """Start or stop receiving SQL executions' planning phases. The
        py4j callback server they arrive through starts with the first
        traced pass, so timed runs never start it."""
        if on:
            ensure_callback_server_started(self.sc._gateway)
            self.listeners.register(self.plans)
        else:
            self.drain()
            self.listeners.unregister(self.plans)

    # -- snapshots taken before a query ----------------------------------
    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile seconds so far)."""
        return (int(self.codegen_hist.getCount()),
                self.codegen_gen.compileTime() / 1e9)

    def last_sql_execution(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return int(self.sql.executionsList(int(n) - 1, 1).apply(0).executionId())

    # -- reads after a query ----------------------------------------------
    def _record(self, obj) -> dict:
        return json.loads(self.json.writeValueAsString(obj))

    def jobs(self, group: str) -> list[dict]:
        """Jobs the group ran since this method last saw it."""
        out = []
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        for jid in self.ledger.new(group, ids):
            jd = self._record(self.store.job(jid))
            start, end = jd["submissionTime"], jd["completionTime"]
            out.append({"id": jid,
                        "start": start / 1e3 if start is not None else None,
                        "end": end / 1e3 if end is not None else None,
                        "stages": jd["stageIds"]})
        return out

    def stages(self, stage_ids) -> dict:
        """Summed task metrics of the stages not counted before, plus the
        skew (max / median task run time) of the longest of them."""
        tot = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
        tot["exec.stages"] = 0
        longest = None
        for sid in self.ledger.new(None, stage_ids):
            sd = self._record(self.store.lastStageAttempt(sid))
            if sd["status"] == "SKIPPED":
                continue
            tot["exec.stages"] += 1
            for field, (name, scale) in STAGE_FIELDS.items():
                tot[name] += sd[field] * scale
            if longest is None or sd["executorRunTime"] > longest[0]:
                longest = (sd["executorRunTime"], sid, sd["attemptId"])
        tot["exec.task_skew"] = self._skew(*longest[1:]) if longest else 1.0
        return tot

    def _skew(self, stage_id: int, attempt: int) -> float:
        summary = self.store.taskSummary(stage_id, attempt, self.quantiles)
        if not summary.isDefined():
            return 1.0
        med, mx = self._record(summary.get())["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def sql_metrics(self, after_id: int, upto_id: int) -> dict:
        """Python-worker and write metrics of SQL executions in
        ``(after_id, upto_id]``."""
        tot = {name: 0.0 for name in SQL_METRICS.values()}
        for eid in range(after_id + 1, upto_id + 1):
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                continue
            wanted = _wanted_metrics(opt.get().metrics().toString())
            if not wanted:
                continue
            values = self.sql.executionMetrics(eid)
            for acc_id, name in wanted:
                v = values.get(acc_id)
                if v.isDefined():
                    tot[SQL_METRICS[name]] += parse_sql_metric(v.get())
        return tot

    def plan_phases(self, df, mark: int) -> dict:
        """Planning phases of the SQL executions that finished since the
        listener had ``mark`` of them, plus those the returned DataFrame
        ran while it was built (its analysis). Reading a tracker plans
        nothing; the ``noop`` write plans its own execution over the
        DataFrame's analyzed plan, which the listener reports."""
        out = tracker_phases(df._jdf.queryExecution())
        for phases in self.plans.phases[mark:]:
            for name, v in phases.items():
                out[name] += v
        out["plan.s"] = sum(out.values())
        return out

    def cache(self) -> dict:
        infos = self.ssc.getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return {"cache.rdds": int(self.jsc.getPersistentRDDs().size()),
                "cache.storage_bytes": float(size)}


_PLAN_METRIC_RE = re.compile(r"SQLPlanMetric\(([^()]*),(\d+),(\w+)\)")


def _wanted_metrics(metrics_repr: str) -> list[tuple[int, str]]:
    """(accumulator id, name) of the SQL_METRICS entries in a rendered
    ``List(SQLPlanMetric(name,accumulatorId,metricType), ...)``."""
    return [(int(acc), name) for name, acc, _ in _PLAN_METRIC_RE.findall(metrics_repr)
            if name in SQL_METRICS]


def job_coverage(jobs, lo: float, hi: float) -> float:
    return coverage([(j["start"], j["end"]) for j in jobs
                     if j["start"] is not None and j["end"] is not None], lo, hi)
