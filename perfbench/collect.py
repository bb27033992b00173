"""Per-layer metrics for the calls the benchmark makes, read from Spark's
own status stores.

The benchmark labels the Spark work of each call it times with a job
group (``Tracer.span``); a streaming query's jobs already carry the
query's ``runId`` as their group.  After the call, ``Tracer.spark_layer``
waits for the listener bus to drain and sums what the jobs and their
stages recorded in the app status store, plus the file scans the SQL
status store recorded for the same jobs.  Nothing inside the engine is
instrumented: these are the numbers Spark keeps anyway.

Spans stay in memory and are written out once, at exit (``Tracer.dump``).
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_value(text: str) -> float:
    """A SQL metric as the status store renders it: ``"1,204"``,
    ``"5.8 KiB"``, ``"12 ms"``, or a multi-line ``"total (min, med, max
    ...)\\n<total> (...)"`` summary, whose total is the first number of
    the last line."""
    head = text.strip().split("\n")[-1].strip().split(" (")[0]
    num, _, unit = head.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit.strip(), 1)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counts: dict = field(default_factory=dict)
    id: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        """The Spark job group the span's calls ran under."""
        return f"perfbench-{self.id}"


def _union_ms(intervals) -> float:
    """Length of the union of ``(start_ms, end_ms)`` intervals: jobs of
    one call can overlap, so their durations do not simply add."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans around the benchmark's calls into each layer, with the Spark
    work each call caused.  ``enabled=False`` keeps the call sites
    identical but records nothing and sets no job group."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        #: seconds spent reading the status stores, the tracing overhead
        #: outside the timed calls
        self.collect_s = 0.0
        #: the step being run: spans of one step share it
        self.op = 0
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    def attach(self, spark) -> None:
        """Read the status stores of ``spark`` from now on (a restarted
        context has new ones)."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._status = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala, "MODULE$"))
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Time one call.  When tracing, its Spark jobs run under the
        span's own job group (``Span.group``)."""
        sp = Span(name, 0.0, parent=self._stack[-1].id if self._stack else None,
                  op=self.op, id=next(self._ids))
        if self.enabled:
            self._sc.setJobGroup(sp.group, name, False)
            self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if self._stack:
                    outer = self._stack[-1]
                    self._sc.setJobGroup(outer.group, outer.name, False)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                self.spans.append(sp)

    def dump(self, fh) -> None:
        """Write every recorded span as one JSON line each."""
        for sp in self.spans:
            fh.write(json.dumps({
                "id": sp.id, "name": sp.name, "parent": sp.parent, "op": sp.op,
                "start": round(sp.start, 6), "end": round(sp.end, 6),
                "counts": sp.counts,
            }) + "\n")

    # -- status store -----------------------------------------------------------

    def _obj(self, jobj) -> dict:
        return json.loads(self._json.writeValueAsString(jobj))

    def spark_layer(self, span: Span, group: str | None = None, *,
                    skew: bool = False, scans: bool = False) -> dict:
        """Sum the status-store record of every job in ``group`` (by
        default the span's own; a stream's jobs run under its ``runId``)
        and record the sums in ``span.counts``.

        Keys: ``jobs``, ``stages`` (stages that ran, skipped ones
        excluded), ``tasks``, ``job_s`` (union of job intervals),
        ``driver_gap_s`` (the span's wall time minus ``job_s``), ``exec_run_s``,
        ``exec_cpu_s``, ``gc_s``, ``shuffle_write_mb``, ``input_mb``,
        ``output_mb``, ``spill_mb`` (disk), ``single_task_stages``;
        with ``skew``, ``task_skew`` (max ÷ median task run time of the
        stage with the most run time); with ``scans``, the parquet scans
        of the group's SQL executions as ``scans``: one dict per scan
        node with its read schema and files/bytes/rows read."""
        t0 = time.perf_counter()
        try:
            out = self._spark_layer(group or span.group, span.seconds, skew, scans)
        finally:
            self.collect_s += time.perf_counter() - t0
        span.counts.update((k, v) for k, v in out.items() if k != "scans")
        return out

    def _spark_layer(self, group, wall_s, skew, scans) -> dict:
        self._bus.waitUntilEmpty()
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "job_s", "driver_gap_s", "exec_run_s",
             "exec_cpu_s", "gc_s", "shuffle_write_mb", "input_mb", "output_mb",
             "spill_mb", "single_task_stages"), 0.0)
        intervals, stage_ids = [], set()
        for jid in job_ids:
            job = self._obj(self._status.job(jid))
            if job.get("submissionTime") and job.get("completionTime"):
                intervals.append((job["submissionTime"], job["completionTime"]))
            stage_ids.update(job["stageIds"])
        out["jobs"] = len(job_ids)
        heaviest = None
        for sid in sorted(stage_ids):
            attempts = self._status.stageData(
                sid, False, self._empty, False, self._no_quantiles)
            for k in range(attempts.size()):
                st = self._obj(attempts.apply(k))
                if st["status"] == "SKIPPED" or st["numCompleteTasks"] == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"]
                out["single_task_stages"] += st["numTasks"] == 1
                out["exec_run_s"] += st["executorRunTime"] / 1e3
                out["exec_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                out["input_mb"] += st["inputBytes"] / 2**20
                out["output_mb"] += st["outputBytes"] / 2**20
                out["spill_mb"] += st["diskBytesSpilled"] / 2**20
                if heaviest is None or st["executorRunTime"] > heaviest[2]:
                    heaviest = (sid, st["attemptId"], st["executorRunTime"])
        out["job_s"] = _union_ms(intervals) / 1e3
        out["driver_gap_s"] = max(0.0, wall_s - out["job_s"])
        if skew:
            out["task_skew"] = self._task_skew(heaviest)
        if scans:
            out["scans"] = self._scans(set(job_ids))
        return out

    def _task_skew(self, heaviest) -> float:
        if heaviest is None:
            return 0.0
        summary = self._status.taskSummary(heaviest[0], heaviest[1], self._quantiles)
        if not summary.isDefined():
            return 0.0
        med, mx = self._obj(summary.get())["executorRunTime"]
        return mx / med if med else 1.0

    def _scans(self, job_ids: set) -> list:
        """Parquet scan nodes of the SQL executions that ran ``job_ids``
        (the last 64 executions are searched; one call launches far
        fewer)."""
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(max(0, n - 64), 64)
        found = []
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = ex.jobs().keySet()
            if not any(ex_jobs.contains(j) for j in job_ids):
                continue
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith("Scan parquet"):
                    continue
                schema = re.search(r"ReadSchema: (struct<.*>)", node.desc())
                scan = {"schema": schema.group(1) if schema else ""}
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        scan[metric.name()] = metric_value(v.get())
                found.append(scan)
        return found
