"""Plan/metrics introspection helpers shared by bench + tests.

The AppStatusStore input-records counter is the repo's standard way of
pinning "how many times was the input scanned" properties (fused
single-pass profiling, incremental scan budgets, the dedup pipeline's
one-pass signature contract). The py4j ``stageList$default$`` default-
argument incantation is Spark-version-fragile, so it lives in exactly
one place.
"""

from __future__ import annotations


def _drain(sc) -> None:
    """Best-effort wait for the ASYNC listener bus that feeds the
    status store: under host load, stage metrics can lag the action's
    return by seconds (observed as a scan-budget test false-failing
    only during a concurrent full-suite run)."""
    try:
        sc.listenerBus().waitUntilEmpty(10000)
    except Exception:
        pass


def _stage_field(spark, field: str) -> "dict[int, int]":
    """{stageId: StageData.<field>()} for every stage in the store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = spark._jvm.java.util.Collections.emptyList()
    args = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    stages = store.stageList(empty, *args)
    return {
        stages.apply(i).stageId(): getattr(stages.apply(i), field)()
        for i in range(stages.size())
    }


def input_records(spark) -> int:
    """Cumulative records read from input sources across all COMPLETED
    stages (AppStatusStore). Take a snapshot before a job and diff
    after; delta / input rows = number of input scans. Only finished
    stages are counted, so call after an action has returned."""
    import time

    _drain(spark.sparkContext._jsc.sc())

    def _read() -> int:
        return sum(_stage_field(spark, "inputRecords").values())

    # waitUntilEmpty can time out silently (it returns a bool this
    # ignores), and a stage completing between a caller's before/after
    # snapshots mis-attributes its records to the measured delta —
    # observed as order-dependent flakes in the scan-budget tests.
    # Quiesce: re-read until two consecutive snapshots agree.
    prev = _read()
    for _ in range(20):
        time.sleep(0.1)
        cur = _read()
        if cur == prev:
            return cur
        prev = cur
    return prev


def _scoped_stages(spark, action, field: str) -> "dict[int, int]":
    """Run ``action()`` and return {stageId: StageData.<field>()} for
    the stages IT submitted — scoped by stage id, so a straggler stage
    from earlier work completing mid-measurement (or a store eviction)
    cannot pollute the figure the way a global before/after diff can.
    Re-reads until two consecutive readings agree."""
    import time

    sc = spark.sparkContext._jsc.sc()
    _drain(sc)
    mark = max(_stage_field(spark, "stageId"), default=-1)
    action()
    _drain(sc)
    prev = None
    for _ in range(20):
        cur = {k: v for k, v in _stage_field(spark, field).items() if k > mark}
        if cur == prev:
            break
        prev = cur
        time.sleep(0.1)
    return prev


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
