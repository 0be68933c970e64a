"""Action-scoped Spark counters for scan-budget and plan tests.

Each counter runs ``action()`` and reads only the status-store items
(stages or SQL executions) that the action submitted, so a straggler
from earlier work in a long shared test session cannot pollute the
figure. ``source_records`` reads the SQL status store and counts only
file-source scans; ``scan_records`` counts stage input records, block
reads of cached and checkpointed frames included. The package keeps
the global counter (``introspect.input_records``) that bench.py uses.
"""

from __future__ import annotations

from typing import Any

from automatic_data_validator_spark.introspect import _drain, _stage_field


def _scoped(spark, action, newest, read) -> "dict[int, Any]":
    """Run ``action()`` and return ``read(mark)``: {id: value} for the
    status-store items (stages, SQL executions) with an id above
    ``mark = newest()`` taken just before it. Scoping by id means a
    straggler from earlier work completing mid-measurement (or a store
    eviction) cannot pollute the figure the way a global before/after
    diff can. Re-reads until two consecutive readings agree, because
    the stores trail the action's return."""
    import time

    sc = spark.sparkContext._jsc.sc()
    _drain(sc)
    mark = newest()
    action()
    _drain(sc)
    prev = None
    for _ in range(20):
        cur = read(mark)
        if cur == prev:
            break
        prev = cur
        time.sleep(0.1)
    return prev


def _scoped_stages(spark, action, field: str) -> "dict[int, int]":
    """{stageId: StageData.<field>()} for the stages ``action``
    submitted (see _scoped)."""
    return _scoped(
        spark, action,
        lambda: max(_stage_field(spark, "stageId"), default=-1),
        lambda mark: {
            k: v for k, v in _stage_field(spark, field).items() if k > mark
        },
    )


def _scoped_executions(spark, action, read_one) -> "dict[int, Any]":
    """{executionId: read_one(store, execution)} for the SQL executions
    ``action`` submitted (see _scoped), from the SQLAppStatusStore."""
    store = spark._jsparkSession.sharedState().statusStore()

    def newest() -> int:
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def read(mark: int) -> "dict[int, Any]":
        execs = store.executionsList()
        out = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() > mark:
                out[e.executionId()] = read_one(store, e)
        return out

    return _scoped(spark, action, newest, read)


def _file_scan_rows(store, execution) -> int:
    """Rows output by the file-source scans of one SQL execution: plan
    nodes carrying a "number of files read" metric (FileSourceScanExec;
    not the scans of cached, checkpointed or local relations). A scan
    under a cached relation read twice in one plan shows up in the
    graph once per read with the same metric: it counts once."""
    graph = store.planGraph(execution.executionId())
    values = store.executionMetrics(execution.executionId())
    nodes = graph.allNodes()
    seen = set()
    rows = 0
    for i in range(nodes.size()):
        metrics = nodes.apply(i).metrics()
        names = {metrics.apply(j).name(): metrics.apply(j)
                 for j in range(metrics.size())}
        if "number of files read" not in names:
            continue
        acc = names["number of output rows"].accumulatorId()
        v = values.get(acc)
        if v.isDefined() and acc not in seen:
            seen.add(acc)
            rows += int("".join(ch for ch in v.get() if ch.isdigit()) or 0)
    return rows


def source_records(spark, action) -> int:
    """Run ``action()`` and return the rows the file-source scans of
    the SQL executions it submitted read. Unlike ``scan_records``, block
    reads of cached or checkpointed frames do not count, so this is the
    number of times the action read its sources (times their rows)."""
    return sum(_scoped_executions(spark, action, _file_scan_rows).values())


def executed_plans(spark, action) -> "list[str]":
    """Run ``action()`` and return the physical plan descriptions of
    the SQL executions it submitted, as the SQL status store keeps
    them (with AQE: the final plan followed by the initial one). Plan
    assertions about a frame that was checkpointed inside the action
    read the executions here; the frame's own plan is a scan of the
    checkpoint."""
    plans = _scoped_executions(
        spark, action, lambda store, e: e.physicalPlanDescription()
    )
    return [plans[k] for k in sorted(plans)]


def scan_records(spark, action) -> int:
    """Run ``action()`` and return the input records read by the
    stages IT submitted (see _scoped_stages). Use this for scan-budget
    assertions in long shared sessions; ``input_records`` diffs remain
    fine for one-shot scripts. A genuine zero-record scan comes back
    as 0."""
    return sum(_scoped_stages(spark, action, "inputRecords").values())


def stage_tasks(spark, action) -> "dict[int, int]":
    """Run ``action()`` and return {stageId: completed tasks} for the
    stages it submitted (see _scoped_stages); a stage skipped because
    its shuffle output was reused completes no task."""
    return _scoped_stages(spark, action, "numCompleteTasks")


def shuffle_write_bytes(spark, action) -> int:
    """Run ``action()`` and return the shuffle bytes written by the
    stages it submitted (see _scoped_stages)."""
    return sum(_scoped_stages(spark, action, "shuffleWriteBytes").values())
