"""Spark counters scoped to the work one call submitted, and the span
recorder of the traced run.

Every counter here is read from the driver's status stores after the
call returns: the AppStatusStore (jobs, stages, tasks) and the
SQLAppStatusStore (per-operator SQL metrics, which is where the Python
worker start/init/run times and Arrow bytes live). Both are readable
with ``spark.ui.enabled=false``. A call's share is everything with an
id above the marks taken just before it, the way
``introspect.scan_records`` scopes input records by stage id; the
benchmark runs one call at a time, so nothing else lands in that range.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024

# SQL metric name -> counter key. Timing metrics are summed over tasks.
_PY_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_mb_sent",
    "data returned from Python workers": "python_mb_returned",
}
_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
               "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0,
               "TiB": 1024.0 * 1024}
# "total (min, med, max (stageId: taskId))\n2.2 s (471 ms, ...)" or "2.2 s"
_TOTAL = re.compile(r"(?:^|\n)\s*([0-9][0-9.,]*)\s*([A-Za-z]+)")


def _parse_total(text: str) -> float:
    """The task-summed total of a formatted SQL metric, in s or MB."""
    m = _TOTAL.search(text.split("\n", 1)[-1])
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    scale = _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit))
    if scale is None:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return value * scale


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


@dataclass(frozen=True)
class Mark:
    """Newest stage and job ids, and the SQL execution count, so far."""

    stage: int
    job: int
    execution: int


class StatusStores:
    """Reads the driver's status stores over py4j."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # the stores are fed by the asynchronous listener bus
        self._sc.listenerBus().waitUntilEmpty(10000)

    def _newer(self, seq, newest_id, mark_id: int) -> list:
        """Items of a newest-first store listing with an id above
        ``mark_id``; stops at the first older one."""
        out = []
        for i in range(seq.size()):
            item = seq.apply(i)
            if newest_id(item) <= mark_id:
                break
            out.append(item)
        return out

    def _stages(self, mark_id: int) -> list:
        store = self._sc.statusStore()
        empty = self._spark._jvm.java.util.Collections.emptyList()
        args = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        return self._newer(store.stageList(empty, *args),
                           lambda s: s.stageId(), mark_id)

    def _jobs(self, mark_id: int) -> list:
        return self._newer(self._sc.statusStore().jobsList(None),
                           lambda j: j.jobId(), mark_id)

    def mark(self) -> Mark:
        self._drain()
        stage = self._stages(-1)[:1]
        job = self._jobs(-1)[:1]
        return Mark(stage[0].stageId() if stage else -1,
                    job[0].jobId() if job else -1,
                    self._sql.executionsCount())

    def since(self, mark: Mark, task_skew: bool = False) -> dict:
        """Counters of everything submitted after ``mark``. Re-reads
        until two readings agree, because stage metrics can trail the
        action's return."""
        self._drain()
        prev = None
        for _ in range(20):
            cur = self._read(mark, task_skew)
            if cur == prev:
                break
            prev = cur
            time.sleep(0.05)
            self._drain()
        return prev

    def _read(self, mark: Mark, task_skew: bool) -> dict:
        stages = [s for s in self._stages(mark.stage)
                  if s.status().toString() != "SKIPPED"]
        c = {
            "jobs": len(self._jobs(mark.job)),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "input_records": sum(s.inputRecords() for s in stages),
            "shuffle_mb": sum(s.shuffleWriteBytes() for s in stages) / MB,
            "spill_mb": sum(s.diskBytesSpilled() + s.memoryBytesSpilled()
                            for s in stages) / MB,
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
        }
        c.update({k: 0.0 for k in _PY_METRICS.values()})
        n_new = self._sql.executionsCount() - mark.execution
        for e in _seq(self._sql.executionsList(mark.execution, n_new)):
            values = self._sql.executionMetrics(e.executionId())
            for m in _seq(e.metrics()):
                key = _PY_METRICS.get(m.name())
                if key:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        c[key] += _parse_total(v.get())
        if task_skew:
            c["task_skew"] = self._task_skew(
                [s for s in stages if s.shuffleReadBytes() > 0]
            )
        return c

    def _task_skew(self, stages: list) -> float:
        """Largest (longest task / median task) run time over the given
        stages; 1.0 when no stage has two timed tasks."""
        store = self._sc.statusStore()
        worst = 1.0
        for s in stages:
            runs = []
            for t in _seq(store.taskList(s.stageId(), s.attemptId(), 100000)):
                m = t.taskMetrics()
                if m.isDefined():
                    runs.append(m.get().executorRunTime())
            med = statistics.median(runs) if len(runs) > 1 else 0
            if med > 0:
                worst = max(worst, max(runs) / med)
        return worst


@dataclass
class Span:
    name: str
    op_id: str
    parent: "int | None"
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the package's layers, kept in memory and
    written out by ``write``. Each span records the Spark counters of
    the work submitted inside it (child spans' work included)."""

    def __init__(self, stores: StatusStores):
        self._stores = stores
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str, task_skew: bool = False):
        mark = self._stores.mark()
        sp = Span(name, op_id, self._open[-1] if self._open else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            sp.counters = self._stores.since(mark, task_skew)

    def self_seconds(self, index: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[index]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == index)
        covered, edge = 0.0, sp.start
        for s, e in kids:
            s, e = max(s, edge), min(e, sp.end)
            if e > s:
                covered += e - s
                edge = e
        return sp.seconds - covered

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "op_id": s.op_id,
                    "parent": s.parent, "start_s": s.start - t0,
                    "end_s": s.end - t0, "self_s": self.self_seconds(i),
                    "counters": s.counters,
                }) + "\n")
