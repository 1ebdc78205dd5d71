"""Spans at the benchmark's calls into each layer, and the Spark counters
taken at the same boundaries.

A span records name, start, end, parent and run id, and tags the Spark
jobs it starts with its own job group. Counters are read after the traced
pass, outside its timing, from the two status stores Spark keeps even
with the UI off:

- the app status store (per stage): task time, GC time, shuffle bytes
  written, bytes spilled to disk, input bytes, and the
  per-task run times behind ``task_skew`` (max over median);
- the SQL status store (per execution): bytes sent to and returned from
  Python workers, summed over the Python-eval nodes; files read by the
  scans; and the rows the sink received.

Spans stay in memory; ``Tracer.spans`` is written out when the run ends.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

_MB = 1e6
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
_OUT_ROWS = "number of output rows"
_FILES_READ = "number of files read"


def _size_total(text: str) -> float:
    """Total bytes of a formatted SQL size metric; the value reads either
    ``"1.5 MiB"`` or ``"total (min, med, max ...)\\n1.5 MiB (...)"``."""
    m = re.search(r"([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _count_total(text: str) -> int:
    m = re.search(r"[0-9][0-9,]*", text.split("\n")[-1])
    return int(m.group(0).replace(",", "")) if m else 0


class Tracer:
    """Records spans for one run; ``plan`` forces a DataFrame's executed
    plan inside the open span and charges the time to its ``plan_s``."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _tag(self, span: dict | None) -> None:
        group = f"{self.run_id}/{span['id']}" if span else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", span and span["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = {
            "name": name,
            "id": len(self.spans) + 1,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "plan_s": 0.0,
        }
        self.spans.append(s)
        self._open.append(s)
        self._tag(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._open.pop()
            self._tag(parent)

    def plan(self, df) -> None:
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        self._open[-1]["plan_s"] += time.perf_counter() - t0

    def collect(self) -> None:
        """Fill every closed span's counters from the status stores."""
        jvm = self.sc._jvm
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        app_store = self.sc._jsc.sc().statusStore()
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        executions = list(as_java(sql_store.executionsList()))
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if "counters" in s:
                continue
            jobs = set(tracker.getJobIdsForGroup(f"{self.run_id}/{s['id']}"))
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages.update(info.stageIds if info else ())
            c = self._stage_counters(app_store, as_java, stages)
            c.update(self._sql_counters(sql_store, as_java, executions, jobs))
            c["wall_s"] = s["end"] - s["start"]
            c["plan_s"] = s["plan_s"]
            c["jobs"] = len(jobs)
            c["stages"] = len(stages)
            s["counters"] = c

    @staticmethod
    def _stage_counters(store, as_java, stage_ids) -> dict:
        run_ms = gc_ms = shuffle = spill = in_bytes = 0
        task_ms = []
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            run_ms += sd.executorRunTime()
            gc_ms += sd.jvmGcTime()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.diskBytesSpilled()
            in_bytes += sd.inputBytes()
            for task in as_java(store.taskList(sid, sd.attemptId(), 1 << 20)):
                metrics = task.taskMetrics()
                if metrics.isDefined():
                    task_ms.append(metrics.get().executorRunTime())
        median = statistics.median(task_ms) if task_ms else 0
        return {
            "task_s": run_ms / 1e3,
            "task_skew": max(task_ms) / median if median else 0.0,
            "tasks": len(task_ms),
            "shuffle_mb": shuffle / _MB,
            "spill_mb": spill / _MB,
            "gc_s": gc_ms / 1e3,
            "mb_in": in_bytes / _MB,
        }

    @staticmethod
    def _sql_counters(store, as_java, executions, jobs) -> dict:
        py_bytes = 0.0
        rows_out = files = 0
        for e in executions:
            if not jobs & set(as_java(e.jobs().keySet())):
                continue
            values = store.executionMetrics(e.executionId())
            top_rows = None
            # allNodes lists the plan top-down, so the first row count is
            # the one the sink received
            for node in as_java(store.planGraph(e.executionId()).allNodes()):
                for m in as_java(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() in _PY_METRICS:
                        py_bytes += _size_total(v.get())
                    elif m.name() == _FILES_READ:
                        files += _count_total(v.get())
                    elif m.name() == _OUT_ROWS and top_rows is None:
                        top_rows = _count_total(v.get())
            rows_out += top_rows or 0
        return {"py_mb": py_bytes / _MB, "rows_out": rows_out, "files": files}
