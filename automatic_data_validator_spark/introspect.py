"""The AppStatusStore input-records counter shared by bench + tests.

It is the repo's standard way of pinning "how many times was the
input scanned" properties (fused single-pass profiling, incremental
scan budgets, the dedup pipeline's one-pass signature contract). It
also counts block reads of cached and checkpointed frames; the
action-scoped counters in ``tests/scan_counters.py`` build on the same
store. The py4j ``stageList$default$`` default-argument incantation is
Spark-version-fragile, so it lives in exactly one place.
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


