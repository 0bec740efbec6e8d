"""Spans around the benchmark's calls into each layer, and per-op Spark
counters read back from the in-process status stores.

Spans stay in memory; nothing is written until the run ends. With
tracing off, ``Tracer.span`` and ``SparkProbe.op`` do no work beyond a
generator frame.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it covered by its child
    spans (clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return [s.duration - union_length(children.get(i, []))
            for i, s in enumerate(spans)]


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_time_by_name(self) -> dict[str, tuple[float, int]]:
        """Summed self time and span count per span name."""
        out: dict[str, tuple[float, int]] = {}
        for s, st in zip(self.spans, self_times(self.spans)):
            tot, n = out.get(s.name, (0.0, 0))
            out[s.name] = (tot + st, n + 1)
        return out

    def dump(self) -> str:
        """Spans as JSON rows [name, start_s, end_s, parent, op], times
        relative to the first span."""
        t0 = self.spans[0].start if self.spans else 0.0
        return json.dumps([[s.name, round(s.start - t0, 6),
                            round(s.end - t0, 6), s.parent, s.op]
                           for s in self.spans])


@dataclass
class OpStats:
    """Spark work of one op, read back by its job group."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    sql: dict[str, float] = field(default_factory=dict)


_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}


def parse_sql_metric(text: str) -> float:
    """Total of a SQL UI metric string: '973 ms', '8.5 KiB', '1,000' or
    'total (min, med, max ...)\\n3.9 s (...)'. Timings come back in ms,
    sizes in bytes."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# MapInPandas SQL metrics surfaced as python.* layer metrics
PYTHON_SQL_METRICS = {
    "time to start Python workers": "worker_start_ms",
    "time to initialize Python workers": "worker_init_ms",
    "time to run Python workers": "worker_run_ms",
}


class SparkProbe:
    """Sets a job group per op and reads jobs, stages, tasks, shuffle,
    spill and (optionally) SQL metrics of that group back from the
    status tracker and status stores. Off when tracing is off."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.ops: dict[int, OpStats] = {}

    @contextmanager
    def op(self, op_id: int, kind: str, sql: bool = False):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{op_id}"
        sc.setJobGroup(group, kind)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops[op_id] = self._read(group, sql)

    def _read(self, group: str, sql: bool) -> OpStats:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        st = OpStats()
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        st.jobs = len(job_ids)
        for j in job_ids:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                st.job_intervals.append((sub.get().getTime() / 1e3,
                                         done.get().getTime() / 1e3))
            info = sc.statusTracker().getJobInfo(j)
            for sid in (info.stageIds if info else []):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                st.stages += 1
                st.tasks += sd.numTasks()
                st.task_run_s += sd.executorRunTime() / 1e3
                st.task_cpu_s += sd.executorCpuTime() / 1e9
                st.shuffle_write_mb += sd.shuffleWriteBytes() / 2 ** 20
                st.spill_mb += sd.diskBytesSpilled() / 2 ** 20
        if sql:
            st.sql = self._sql_metrics(set(job_ids))
        return st

    def _sql_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Sum the MapInPandas worker metrics over the SQL executions
        that ran any of ``job_ids``."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        execs = sq.executionsList()
        out = {v: 0.0 for v in PYTHON_SQL_METRICS.values()}
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keySet().iterator()
            ran = False
            while jobs.hasNext():
                if int(jobs.next()) in job_ids:
                    ran = True
            if not ran:
                continue
            wanted = {}
            mi = e.metrics().iterator()
            while mi.hasNext():
                pm = mi.next()
                if pm.name() in PYTHON_SQL_METRICS:
                    wanted[pm.accumulatorId()] = PYTHON_SQL_METRICS[pm.name()]
            if not wanted:
                continue
            it = sq.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                key = wanted.get(int(kv._1()))
                if key is not None:
                    out[key] += parse_sql_metric(kv._2())
        return out

    def storage_mem_mb(self) -> float:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        execs = store.executorList(True)
        return sum(execs.apply(i).memoryUsed()
                   for i in range(execs.size())) / 2 ** 20

    def total(self, op_ids: list[int]) -> OpStats:
        """Summed stats of the ops in ``op_ids``."""
        tot = OpStats()
        for k, s in self.ops.items():
            if k not in op_ids:
                continue
            tot.jobs += s.jobs
            tot.stages += s.stages
            tot.tasks += s.tasks
            tot.task_run_s += s.task_run_s
            tot.task_cpu_s += s.task_cpu_s
            tot.shuffle_write_mb += s.shuffle_write_mb
            tot.spill_mb += s.spill_mb
            tot.job_intervals.extend(s.job_intervals)
        return tot


def catalyst_phases_ms(df) -> dict[str, float]:
    """analysis/optimization/planning durations of the DataFrame's
    QueryPlanningTracker (the plan the last action executed)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out
