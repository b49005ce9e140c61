"""Spans around the benchmark's calls into the program, with Spark
status-store counts taken at the same boundaries.

A span records name, start, end, parent and run id.  A span opened with
``spark=`` runs its Spark jobs under a job group of its own; when it
closes, the jobs, stages and SQL executions of that group are read back
from the status stores (no listener, no extra thread) and attached to
the span as counts.  Spans stay in memory until ``write``.

Spans that read counts are not nested in one another: a job belongs to
one group, so each count is the work done inside that one span.  With
tracing off, ``span`` records nothing and touches no job group.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "MapInArrow", "PythonMapInArrow",
                 "AggregateInPandas", "WindowInPandas")


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '1,234', '750.9 KiB', '2.7 s',
    or 'total (min, med, max ...)\\n<total> (...)'."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    """Reads counts for one job group from Spark's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def executions_seen(self) -> int:
        return self.sql.executionsList().size()

    def group_counts(self, group: str, first_execution: int) -> dict:
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        store = self.jsc.statusStore()
        c = {"jobs": len(job_ids), "stages": 0, "input_rows": 0,
             "scan_bytes": 0, "shuffle_write_bytes": 0, "gc_ms": 0,
             "executor_run_ms": 0, "python_operators": 0,
             "python_bytes": 0, "python_worker_ms": 0.0,
             "python_start_ms": 0.0}
        for jid in job_ids:
            for sid in _seq(store.job(jid).stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue            # skipped stage: no attempt ran
                c["stages"] += 1
                c["input_rows"] += st.inputRecords()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["gc_ms"] += st.jvmGcTime()
                c["executor_run_ms"] += st.executorRunTime()
        execs = self.sql.executionsList()
        for i in range(first_execution, execs.size()):
            ex = execs.apply(i)
            ex_jobs = {int(j) for j in
                       _seq(ex.jobs().keys().toSeq())} if job_ids else set()
            if not ex_jobs & job_ids:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            for node in _seq(self.sql.planGraph(ex.executionId()).allNodes()):
                if node.name().startswith("Scan "):
                    for m in _seq(node.metrics()):
                        v = values.get(m.accumulatorId())
                        if m.name() == "size of files read" and v.isDefined():
                            c["scan_bytes"] += int(_metric_total(v.get()))
                    continue
                if node.name() not in _PYTHON_NODES:
                    continue
                c["python_operators"] += 1
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name()
                    if name in ("data sent to Python workers",
                                "data returned from Python workers"):
                        c["python_bytes"] += int(_metric_total(v.get()))
                    elif name == "time to run Python workers":
                        c["python_worker_ms"] += _metric_total(v.get())
                    elif name in ("time to start Python workers",
                                  "time to initialize Python workers"):
                        c["python_start_ms"] += _metric_total(v.get())
        return c

    def executor_gc_ms(self) -> int:
        execs = self.jsc.statusStore().executorList(True)
        return sum(execs.apply(i).totalGCTime() for i in range(execs.size()))

    def cached_bytes(self) -> int:
        """Storage memory held by persisted RDDs/DataFrames."""
        return sum(info.memSize() for info in self.jsc.getRDDStorageInfo())


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._reader: StatusReader | None = None

    @contextlib.contextmanager
    def span(self, name: str, spark=None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = first_exec = None
        if spark is not None:
            if self._reader is None or self._reader.sc is not \
                    spark.sparkContext:
                self._reader = StatusReader(spark)
            group = f"{self.run_id}/{rec['id']}"
            first_exec = self._reader.executions_seen()
            spark.sparkContext.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                rec["counts"] = self._reader.group_counts(group, first_exec)
                sc = spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self time in ms.  Self time
        is the span's duration minus what its child spans cover."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + \
                    (s["end"] - s["start"]) * 1e3
        table: dict[str, dict] = {}
        for s in self.spans:
            dur = (s["end"] - s["start"]) * 1e3
            row = table.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                               "self_ms": 0.0})
            row["count"] += 1
            row["total_ms"] += dur
            row["self_ms"] += dur - child_ms.get(s["id"], 0.0)
        return {k: {"count": v["count"], "total_ms": round(v["total_ms"], 3),
                    "self_ms": round(v["self_ms"], 3)}
                for k, v in table.items()}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_times": self.self_times(), **extra}, f,
                      indent=1, default=str)
