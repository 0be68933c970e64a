"""The tail of run_validation: what runs after the row-rules totals
arrive, how the violation rows leave, and the drift sketch's edges.

- uniqueness/referential pin their caches with the per-partition
  collect their verdicts need, so no job runs after the totals;
- violations leave as one partition when their exact row count is at
  most ``config.VIOLATIONS_ONE_FILE_ROWS`` (default mode only);
- the drift sketch sketches every column of a zero-partition input,
  and table-level drift equals cohort drift over one constant cohort.
"""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
from fixtures import grid_sketch
import pytest

from automatic_data_validator_spark import config
from automatic_data_validator_spark import drift as DR
from automatic_data_validator_spark import rules as R
from automatic_data_validator_spark.dedup import uniqueness_check
from automatic_data_validator_spark.refcheck import referential_check
from automatic_data_validator_spark.session import local_frame
from automatic_data_validator_spark.validate import (
    canonical_violations,
    run_validation,
)


def _last_job_id(spark) -> int:
    """Highest job id the status tracker knows, after draining the
    asynchronous listener bus so finished jobs are all registered."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _partition_totals(df) -> dict[int, int]:
    return {
        r["pid"]: r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_checks_run_no_job_after_totals(spark, docs, catalog):
    """Standalone uniqueness and referential checks with a callable
    totals: the callable records the last job id when it is resolved,
    and no job may start after it — the per-partition collect is the
    action that materializes the cache, before the totals."""
    totals = _partition_totals(docs)
    expected = {
        "unique": sorted(map(tuple, uniqueness_check(
            docs, partition_totals=totals)[0].collect())),
        "ref": sorted(map(tuple, referential_check(
            docs, catalog, partition_totals=totals)[0].collect())),
    }
    seen: dict[str, int] = {}

    def totals_fn():
        seen["at_totals"] = _last_job_id(spark)
        return totals

    for name, check in (
        ("unique", lambda: uniqueness_check(docs, partition_totals=totals_fn)),
        ("ref", lambda: referential_check(
            docs, catalog, partition_totals=totals_fn)),
    ):
        seen.clear()
        verdicts, _viol = check()
        assert "at_totals" in seen, name
        assert _last_job_id(spark) == seen["at_totals"], name
        assert sorted(map(tuple, verdicts.collect())) == expected[name]


def _violation_files(res, path) -> int:
    res.violations.write.parquet(path)
    return sum(n.endswith(".parquet") for n in os.listdir(path))


def test_violations_one_partition_gate_both_sides(
    spark, docs, catalog, tmp_path, monkeypatch
):
    """Default mode: at most VIOLATIONS_ONE_FILE_ROWS violation rows
    leave as one partition (one parquet file); one row over the limit
    keeps the phases' own partitioning. Spill and checkpoint mode keep
    their partitioning. The canonical rows are the same in every case."""
    res = run_validation(spark, docs, catalog=catalog, with_profile=False)
    rows = canonical_violations(res.violations).collect()
    n = len(rows)
    assert n > 0
    assert res.violations.rdd.getNumPartitions() == 1
    assert _violation_files(res, str(tmp_path / "small")) == 1

    # the limit is inclusive: exactly n rows still coalesce
    monkeypatch.setattr(config, "VIOLATIONS_ONE_FILE_ROWS", n)
    res = run_validation(spark, docs, catalog=catalog, with_profile=False)
    assert res.violations.rdd.getNumPartitions() == 1

    monkeypatch.setattr(config, "VIOLATIONS_ONE_FILE_ROWS", n - 1)
    res = run_validation(spark, docs, catalog=catalog, with_profile=False)
    assert res.violations.rdd.getNumPartitions() > 1
    assert canonical_violations(res.violations).collect() == rows
    monkeypatch.undo()

    spilled = run_validation(spark, docs, catalog=catalog, with_profile=False,
                             verdict_spill_threshold=1)
    ckpt = run_validation(spark, docs, catalog=catalog, with_profile=False,
                          checkpoint_dir=str(tmp_path / "ckpt"),
                          snapshot_id="gate")
    for other in (spilled, ckpt):
        assert other.violations.rdd.getNumPartitions() > 1
        assert canonical_violations(other.violations).collect() == rows


def test_drift_phase_reports_zero_partition_input(spark):
    """An empty local relation has zero partitions, so the sketch pass
    emits no partial rows. Its columns must still sketch as empty and
    the drift phase must report them drifted (empty_sketch), exactly
    as the same empty data with partitions does."""
    docs = local_frame(spark, [], "doc_id string, x double")
    assert docs.rdd.getNumPartitions() == 0
    baseline = {"x": grid_sketch(np.arange(100, dtype=float))}
    res = run_validation(
        spark, docs, rule_set=[R.Rule("nn", "not_null", column="doc_id")],
        check_uniqueness=False, with_profile=False, drift_baseline=baseline,
    )
    v = [r for r in res.verdicts.collect() if r["rule_id"] == "drift_x"]
    assert len(v) == 1 and v[0]["pass"] is False
    (viol,) = [r for r in res.violations.collect() if r["rule_id"] == "drift_x"]
    assert "reason=empty_sketch" in viol["detail"]
    assert DR.sketch_columns(docs, ["x"])["x"].total_weight == 0


def _signal_frame(spark, partitions: int):
    """Exchange-free input (Range scan) with a continuous column and an
    integer-valued one (ties across partitions)."""
    return spark.range(0, 20_000, 1, partitions).select(
        (F.col("id") % 5).cast("string").alias("g"),
        (F.sin(F.col("id")) * 100).alias("a"),
        (F.col("id") % 37).cast("double").alias("b"),
    )


def _same_grid(x: DR.QuantileGrid, y: DR.QuantileGrid) -> bool:
    return np.array_equal(x.q, y.q) and x.total_weight == y.total_weight


@pytest.mark.parametrize("partitions", [8, 16])
def test_table_drift_is_cohort_drift_with_one_group(spark, partitions):
    """Table-level drift is the single-group case of cohort drift: over
    a constant cohort column both give the same grids bit for bit, at
    8 and 16 input partitions, and the same KS/PSI/reason report
    rows."""
    df = _signal_frame(spark, partitions)
    one = df.withColumn("k", F.lit("all"))
    table = DR.sketch_columns(df, ["a", "b"])
    cohort = DR.sketch_columns(one, ["a", "b"], group_by="k")
    assert set(cohort) == {"all"}
    for c in ("a", "b"):
        assert _same_grid(table[c], cohort["all"][c]), c
    shifted = df.select("g", (F.col("a") + 10).alias("a"), "b")
    cur = DR.sketch_columns(shifted, ["a", "b"])
    cur_k = DR.sketch_columns(
        shifted.withColumn("k", F.lit("all")), ["a", "b"], group_by="k"
    )

    def stats(report):
        return [
            (r["column"], r["ks"], r["psi"], r["drifted"], r["reason"],
             r["n_current"])
            for r in report
        ]

    rep = DR.drift_report_sketches(cur, table, ["a", "b"])
    rep_k = DR.drift_report_sketches(cur_k, cohort, ["a", "b"])
    assert stats(rep) == stats(rep_k)
    assert [r["group"] for r in rep] == [None, None]
    assert [r["drifted"] for r in rep] == [True, False]
