"""Spans around calls into the program, and readers for Spark's own
per-job metrics.

A span records (id, name, start, end, parent) in memory and tags every
Spark job started inside it with its own job group, whose id is also the
job description, so the SQL executions and stages it ran can be read back
from the status store once the run ends. Spans are written out by the
caller at exit. Nothing here reaches into the program: it only brackets
calls to public functions from outside.
"""

from __future__ import annotations

import itertools
import math
import re
import statistics
import time
from contextlib import contextmanager

_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_SCALE = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric value in base units (bytes, seconds, count).
    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    single-task ones are just ``<value>``."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line.strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        group = f"{name}#{sid}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "group": group, "parent": parent}
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)

    def groups(self, name: str) -> list[str]:
        return [s["group"] for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# -- status store readers ----------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def sql_executions(spark, group: str) -> list:
    """SQL executions started under ``group`` (their description)."""
    store = spark._jsparkSession.sharedState().statusStore()
    return [
        e for e in _seq(store.executionsList())
        if e.description() == group
    ]


def execution_seconds(execution) -> float:
    end = execution.completionTime()
    if not end.isDefined():
        return 0.0
    return (end.get().getTime() - execution.submissionTime()) / 1000.0


def node_metric_sum(spark, groups: list[str], node: str, metric: str) -> float:
    """Sum of one SQL metric over every plan node whose name starts with
    ``node``, across the finished SQL executions of ``groups``."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    for e in (e for g in groups for e in sql_executions(spark, g)):
        values = store.executionMetrics(e.executionId())
        for n in _seq(store.planGraph(e.executionId()).allNodes()):
            if not n.name().startswith(node):
                continue
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == metric and v.isDefined():
                    total += parse_sql_metric(v.get())
    return total


def group_jobs(spark, group: str) -> list:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() == group:
            out.append(job)
    return out


def group_stages(spark, group: str) -> list:
    ids = {
        int(s)
        for job in group_jobs(spark, group)
        for s in _seq(job.stageIds())
    }
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = (store.lastStageAttempt(i) for i in sorted(ids))
    return [s for s in stages if s.numCompleteTasks() > 0]


def stage_tasks(spark, stage) -> list[tuple[float, int]]:
    """(duration s, shuffle records read) per task of one stage attempt."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for t in _seq(store.taskList(stage.stageId(), stage.attemptId(), 1 << 20)):
        dur = t.duration().get() / 1000.0 if t.duration().isDefined() else 0.0
        tm = t.taskMetrics()
        read = (
            tm.get().shuffleReadMetrics().recordsRead() if tm.isDefined() else 0
        )
        out.append((dur, int(read)))
    return out


def shuffle_write_bytes(spark, groups: list[str]) -> float:
    return float(
        sum(s.shuffleWriteBytes() for g in groups for s in group_stages(spark, g))
    )


def busiest_stage(spark, group: str):
    stages = group_stages(spark, group)
    return max(stages, key=lambda s: s.executorRunTime()) if stages else None


def task_skew(durations: list[float]) -> float:
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


def arrow_batches(records: list[int], max_records: int) -> int:
    return sum(math.ceil(r / max_records) for r in records if r > 0)
