"""Quantile-grid sketch properties, KS/PSI drift, correction pipeline
vs the reference fixture (FIXTURES.md §4)."""

from __future__ import annotations

import json
import math
import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from automatic_data_validator_spark import synth
from automatic_data_validator_spark.correct import build_plan, apply_plan, clean
from automatic_data_validator_spark.drift import (
    QuantileGrid,
    _sketch_frame,
    document_signals,
    drift_report,
    drift_report_sketches,
    ks_statistic,
    merge_sketch_rows,
    psi,
    sketch_columns,
    sketch_rows,
)
from fixtures import grid_sketch


def _exact_ks(a: np.ndarray, b: np.ndarray) -> float:
    x = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), x, side="right") / a.size
    fb = np.searchsorted(np.sort(b), x, side="right") / b.size
    return float(np.abs(fa - fb).max())


def test_grid_quantiles_accurate(spark):
    rng = np.random.RandomState(42)
    vals = rng.normal(100, 15, 50_000)
    d = sketch_columns(spark.createDataFrame(pd.DataFrame({"x": vals})), ["x"])["x"]
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert abs(d.quantile(q) - np.quantile(vals, q)) < 0.5, q
    assert abs(d.cdf(100.0) - 0.5) < 0.01
    assert d.quantile(0.0) == vals.min() and d.quantile(1.0) == vals.max()


def test_grid_ks_matches_exact_two_sample_ks(spark):
    """On the documents signals (integer ties and a long-tailed
    length), the grid KS stays within 0.01 of the exact two-sample KS,
    unshifted and with text_chars shifted by 1.2x."""
    cols = ["n_spans", "text_chars", "n_media_refs"]
    cur = document_signals(synth.make_documents(spark, 10_000, n_media=500, seed=11))
    base = document_signals(synth.make_documents(spark, 4_000, n_media=500, seed=12))
    shifted = cur.withColumn("text_chars", F.col("text_chars") * 1.2)
    b_sk, b_pd = sketch_columns(base, cols), base.toPandas()
    for frame in (cur, shifted):
        sk, pdf = sketch_columns(frame, cols), frame.toPandas()
        for c in cols:
            exact = _exact_ks(pdf[c].to_numpy(), b_pd[c].to_numpy())
            assert abs(ks_statistic(sk[c], b_sk[c]) - exact) <= 0.01, (c, exact)
    assert _exact_ks(shifted.toPandas()["text_chars"].to_numpy(),
                     b_pd["text_chars"].to_numpy()) > 0.1


def test_grid_merge_order_insensitive(spark):
    """The corpus grid of a per-increment history is one merge of every
    stored grid: bit-identical in any row order, and within 0.01 KS of
    a one-shot sketch of the same rows."""
    rng = np.random.RandomState(1)
    pdf = pd.DataFrame({"x": np.concatenate([
        rng.normal(0, 1, 9_000), rng.exponential(3.0, 4_000),
        rng.randint(0, 5, 2_000).astype(float)])})
    pdf["inc"] = np.repeat([0, 1, 2, 3], [7_000, 4_500, 2_500, 1_000])
    df = spark.createDataFrame(pdf)
    rows = [r for i in range(4)
            for r in sketch_rows(sketch_columns(df.filter(F.col("inc") == i), ["x"]))]
    merged = merge_sketch_rows(rows)[None]["x"]
    for seed in range(3):
        random.Random(seed).shuffle(rows)
        again = merge_sketch_rows(rows)[None]["x"]
        assert np.array_equal(again.q, merged.q)
        assert again.total_weight == merged.total_weight
    one_shot = sketch_columns(df, ["x"])["x"]
    assert merged.total_weight == one_shot.total_weight == 15_000
    assert ks_statistic(merged, one_shot) <= 0.01
    assert merged.quantile(0.0) == pdf["x"].min()
    assert merged.quantile(1.0) == pdf["x"].max()


def test_grid_serialize_roundtrip(spark):
    d = sketch_columns(spark.range(1000).select(F.col("id").cast("double").alias("x")),
                       ["x"])["x"]
    d2 = QuantileGrid.deserialize(d.serialize())
    assert np.array_equal(d.q, d2.q) and d2.total_weight == 1000
    assert math.isclose(d.quantile(0.5), d2.quantile(0.5))
    assert d2.quantile(0.0) == 0.0 and d2.quantile(1.0) == 999.0
    assert QuantileGrid.deserialize(QuantileGrid().serialize()).total_weight == 0
    # a sketch stored as t-digest JSON reads as a grid at the same levels
    old = {"c": 200.0, "m": [float(i) for i in range(1000)], "w": [1.0] * 1000,
           "lo": 0.0, "hi": 999.0}
    legacy = QuantileGrid.deserialize(json.dumps(old))
    assert legacy.total_weight == 1000 and legacy.q.size == d.q.size
    assert legacy.quantile(0.0) == 0.0 and legacy.quantile(1.0) == 999.0
    assert abs(legacy.quantile(0.5) - 499.5) < 1.0
    assert ks_statistic(legacy, d) < 0.01
    empty = {"c": 200.0, "m": [], "w": [], "lo": None, "hi": None}
    assert QuantileGrid.deserialize(json.dumps(empty)).total_weight == 0


def test_distributed_sketch_matches_local(spark):
    rng = np.random.RandomState(3)
    vals = rng.normal(50, 5, 20_000)
    df = spark.createDataFrame(pd.DataFrame({"x": vals})).repartition(8)
    sk = sketch_columns(df, ["x"])["x"]
    local = grid_sketch(vals)
    for q in (0.25, 0.5, 0.75):
        assert abs(sk.quantile(q) - local.quantile(q)) < 0.1
    assert sk.total_weight == 20_000


def test_sketch_is_deterministic(spark):
    """Sketching the same (shuffled) signal frame twice gives
    bit-identical KS/PSI rows."""
    docs = synth.make_documents(spark, 6_000, n_media=300, seed=5)
    signals = document_signals(docs.repartition(7)).repartition(5)
    cols = ["n_spans", "text_chars", "n_media_refs"]
    base = sketch_columns(document_signals(docs), cols)
    first, second = (
        drift_report_sketches(sketch_columns(signals, cols), base, cols)
        for _ in range(2)
    )
    assert first == second


def test_sketch_is_one_jvm_aggregate(spark):
    """The sketch plan starts no Python worker, and its collect returns
    one row per cohort (one at table level)."""
    rng = np.random.RandomState(7)
    df = spark.createDataFrame(pd.DataFrame({
        "g": rng.choice(["a", "b", "c"], 20_000),
        "a": rng.normal(10, 2, 20_000), "b": rng.normal(0, 1, 20_000),
    })).repartition(64)
    for group_by, n_rows in ((None, 1), ("g", 3)):
        frame = _sketch_frame(df, ["a", "b"], group_by)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                     "BatchEvalPython"):
            assert node not in plan, (node, plan)
        assert len(frame.collect()) == n_rows
    sk = sketch_columns(df, ["a", "b"])
    assert sk["b"].total_weight == 20_000
    assert abs(sk["a"].quantile(0.5) - 10) < 0.1


def test_ks_psi_fire_on_shift(spark):
    rng = np.random.RandomState(4)
    base = grid_sketch(rng.normal(0, 1, 20_000))
    same = grid_sketch(rng.normal(0, 1, 20_000))
    shifted = grid_sketch(rng.normal(1.0, 1, 20_000))
    assert ks_statistic(same, base) < 0.05
    assert ks_statistic(shifted, base) > 0.3
    assert psi(same, base) < 0.05
    assert psi(shifted, base) > 0.5


def test_drift_report_end_to_end(spark):
    rng = np.random.RandomState(5)
    cur = spark.createDataFrame(
        pd.DataFrame({"a": rng.normal(10, 1, 5000), "b": rng.normal(0, 1, 5000)})
    )
    baseline = {
        "a": grid_sketch(rng.normal(10, 1, 5000)),  # no drift
        "b": grid_sketch(rng.normal(3, 1, 5000)),   # drifted
    }
    rep = {r["column"]: r for r in drift_report(cur, baseline)}
    assert rep["a"]["drifted"] is False
    assert rep["b"]["drifted"] is True


# --- correction pipeline (reference fixture, FIXTURES.md §4) ----------------

@pytest.fixture()
def dirty(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4, 5, 5],
            "name": ["Alice", "Bob", None, "David", "Eve", "Eve"],
            "age": ["25", "30", "35", "40", "45", "45"],
            "salary": [50000.0, 60000.0, 70000.0, 80000.0, None, 90000.0],
            "date": ["2023-01-01", "2023-02-01", "2023-03-01", "2023-04-01",
                     "2023-05-01", "2023-05-01"],
        }
    )
    return spark.createDataFrame(pdf)


def test_clean_reference_fixture_invariants(spark, dirty):
    cleaned, plan = clean(
        dirty,
        dedup_keys=["id"],
        order_key="id",
        standardize=["name"],
        casts={"age": "bigint", "date": "date"},
    )
    out = cleaned.orderBy("id").toPandas()
    # zero duplicates after cleaning (pipeline_generator.py:773-780)
    assert out["id"].is_unique and len(out) == 5
    # nulls non-increasing: name + salary imputed (782-791)
    assert out["name"].notna().all()
    assert out["salary"].notna().all()
    # mixed-type age converges to numeric (815-829)
    assert str(out["age"].dtype).startswith("int")
    assert list(out["age"]) == [25, 30, 35, 40, 45]
    # date parses
    assert out["date"].notna().all()
    # salary imputation used median (null share 1/6 < 0.3) of non-null values
    assert out.loc[out["id"] == 5, "salary"].iloc[0] == pytest.approx(70000.0, rel=0.01)
    # mode imputation for name with tie-break on value
    assert out.loc[out["id"] == 3, "name"].iloc[0] in {"Alice", "Bob", "David", "Eve"}


def test_plan_drops_high_null_columns(spark):
    pdf = pd.DataFrame(
        {"keep": range(100), "drop_me": [None] * 95 + ["x"] * 5}
    )
    df = spark.createDataFrame(pdf)
    plan = build_plan(df)
    assert "drop_me" in plan.dropped_columns
    out = apply_plan(df, plan)
    assert "drop_me" not in out.columns


def test_cap_outliers(spark):
    vals = list(np.arange(100.0)) + [10_000.0]
    df = spark.createDataFrame(pd.DataFrame({"x": vals}))
    cleaned, plan = clean(df)
    assert "x" in plan.caps
    mx = cleaned.agg({"x": "max"}).collect()[0][0]
    assert mx < 10_000.0


def test_sketch_by_group_and_grouped_drift(spark):
    rng = np.random.RandomState(11)
    base = pd.DataFrame(
        {
            "g": ["a"] * 4000 + ["b"] * 4000,
            "v": np.concatenate([rng.normal(0, 1, 4000), rng.normal(5, 1, 4000)]),
        }
    )
    cur = base.copy()
    cur.loc[cur.g == "b", "v"] += 3.0  # drift group b only
    from automatic_data_validator_spark.drift import drift_report_sketches

    sk = sketch_columns(spark.createDataFrame(base), ["v"], group_by="g")
    assert abs(sk["a"]["v"].quantile(0.5) - 0.0) < 0.15
    assert abs(sk["b"]["v"].quantile(0.5) - 5.0) < 0.15
    rep = {r["group"]: r for r in drift_report_sketches(
        sketch_columns(spark.createDataFrame(cur), ["v"], group_by="g"), sk, ["v"])}
    assert rep["a"]["drifted"] is False
    assert rep["b"]["drifted"] is True


def test_baseline_snapshot_roundtrip_and_drift(spark, tmp_path):
    """Save a baseline sketch snapshot, reload it in a 'later run', and
    detect an injected shift — without rescanning the baseline data."""
    import numpy as np
    import pandas as pd

    from automatic_data_validator_spark.drift import (
        drift_report,
        load_baseline,
        save_baseline,
        sketch_columns,
    )

    rng = np.random.RandomState(11)
    base = spark.createDataFrame(pd.DataFrame({"x": rng.normal(0, 1, 20000)}))
    sketches = sketch_columns(base, ["x"])
    path = str(tmp_path / "baseline_sketches")
    save_baseline(sketches, spark, path, snapshot_id="snap-base")
    loaded = load_baseline(spark, path)
    assert abs(loaded["x"].quantile(0.5) - sketches["x"].quantile(0.5)) < 1e-9

    same = spark.createDataFrame(pd.DataFrame({"x": rng.normal(0, 1, 20000)}))
    shifted = spark.createDataFrame(pd.DataFrame({"x": rng.normal(2.0, 1, 20000)}))
    ok = drift_report(same, loaded)[0]
    bad = drift_report(shifted, loaded)[0]
    assert not ok["drifted"] and bad["drifted"]


def test_schema_drift_detects_structural_changes(spark):
    from automatic_data_validator_spark.drift import schema_drift, schema_snapshot

    base = spark.createDataFrame([(1, "a", 0.5)], "id long, name string, score double")
    snap = schema_snapshot(base)
    same = spark.createDataFrame([(2, "b", 0.1)], "id long, name string, score double")
    assert schema_drift(same, snap) == []
    changed = spark.createDataFrame(
        [(1, "x", "0.5", True)], "id long, name string, score string, flag boolean"
    )
    drift = {(d["column"], d["kind"]) for d in schema_drift(changed, snap)}
    assert drift == {("flag", "added"), ("score", "type_changed")}
    dropped = spark.createDataFrame([(1,)], "id long")
    kinds = {(d["column"], d["kind"]) for d in schema_drift(dropped, snap)}
    assert kinds == {("name", "removed"), ("score", "removed")}


def test_apply_plan_single_projection_and_linear_build(spark):
    """Round-2 directive #7: impute/cap/standardize/cast compose into
    ONE select — plan application on a wide table stays linear (the
    old per-column withColumn chain was quadratic in the analyzer)."""
    import time

    from automatic_data_validator_spark.correct import CorrectionPlan, apply_plan

    import pyspark.sql.functions as F

    n_cols = 500
    wide = spark.range(100).select(
        "id", *[(F.col("id") % (i + 2)).cast("int").alias(f"c{i}") for i in range(n_cols)]
    )
    plan = CorrectionPlan(
        dedup_keys=["id"],
        order_key="id",
        imputations={f"c{i}": 1.5 for i in range(n_cols)},
        caps={f"c{i}": (0.5, 3.5) for i in range(n_cols)},
    )
    t0 = time.perf_counter()
    out = apply_plan(wide, plan)
    out.schema  # force analysis
    build_s = time.perf_counter() - t0
    # the bound guards against the QUADRATIC analyzer chain (MINUTES at
    # 500 columns — the linear path analyzes in ~5-10s); 60s is wide
    # enough that a 3x shared-VM load spike cannot fail it (a 20s bound
    # false-failed under a concurrent full-suite run) while a quadratic
    # regression still trips it with an order of magnitude to spare
    assert build_s < 60.0, build_s
    # values still correct: fractional impute upcasts, caps applied
    row = out.orderBy("id").limit(1).collect()[0]
    assert row["c0"] == 0.5  # id=0 -> 0 clipped to lower bound


def test_apply_plan_matches_stepwise_semantics(spark):
    """The fused projection must reproduce the exact step order:
    impute -> cap -> standardize -> cast."""
    import pandas as pd

    from automatic_data_validator_spark.correct import CorrectionPlan, apply_plan

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 2, 3, 4],
                "age": pd.array([10, None, 90, 20], dtype="Int64"),
                "name": ["  alice s  ", None, "BOB", "carl"],
            }
        )
    )
    plan = CorrectionPlan(
        dedup_keys=["k"],
        order_key="k",
        imputations={"age": 15.5, "name": "Unknown"},
        caps={"age": (12.0, 60.0)},
        standardize_columns=["name"],
        casts={"age": "string"},
    )
    rows = {r["k"]: r for r in apply_plan(df, plan).collect()}
    # 10 -> impute skip -> clipped to 12.0 -> "12.0"
    assert rows[1]["age"] == "12.0"
    # null -> 15.5 -> within caps -> "15.5"
    assert rows[2]["age"] == "15.5"
    assert rows[3]["age"] == "60.0"
    assert rows[2]["name"] == "Unknown"
    assert rows[1]["name"] == "Alice S"


def test_mode_impute_survives_quoted_column_name(spark):
    """Round-2 ADVICE: a column name containing a single quote must
    still resolve its real mode (the old ''-doubling built a mangled
    stack() label and silently imputed 'Unknown')."""
    import pandas as pd

    from automatic_data_validator_spark.correct import build_plan

    df = spark.createDataFrame(
        pd.DataFrame({"it's": ["x", "x", "y", None]})
    )
    plan = build_plan(df)
    assert plan.imputations["it's"] == "x"


def test_topk_values_survives_quoted_column_name(spark):
    import pandas as pd

    from automatic_data_validator_spark.profile import topk_values

    df = spark.createDataFrame(pd.DataFrame({"o'brien": ["a", "a", "b"]}))
    rows = topk_values(df, ["o'brien"], k=1).collect()
    assert rows and rows[0]["col_name"] == "o'brien" and rows[0]["value"] == "a"


def test_categorical_inconsistency_no_global_window(spark):
    """Round-2 ADVICE: the group cap must not funnel all variant rows
    through a single-partition global window."""
    import pandas as pd

    from automatic_data_validator_spark.profile import categorical_inconsistency

    df = spark.createDataFrame(
        pd.DataFrame({"v": ["A", "a", " a", "B", "b", "c", "C", "c "] * 50})
    )
    out = categorical_inconsistency(df, "v", max_groups=2)
    rows = out.collect()
    keys = {r["norm_key"] for r in rows}
    assert keys == {"a", "c"}  # two largest groups
    canon = {r["norm_key"]: r["value"] for r in rows if r["is_canonical"]}
    assert set(canon) == {"a", "c"}
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # no Window without partitioning spec: every windowspecdefinition
    # must carry the norm_key partition key
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "norm_key" in spec, spec


def test_apply_plan_skips_type_incompatible_imputations(spark):
    """Round-3 review finding: numeric fills must not coerce
    string/timestamp columns (df.na.fill dict semantics), and integer
    fills stay exact (no double round-trip above 2^53)."""
    from automatic_data_validator_spark.correct import CorrectionPlan, apply_plan

    big = (1 << 60) + 3
    df = spark.createDataFrame(
        [("a", None, None), ("b", "keep", 5)],
        "k string, s string, v bigint",
    )
    plan = CorrectionPlan(
        dedup_keys=["k"], order_key="k",
        imputations={"s": 2.5, "v": big},  # numeric fill on a string col
    )
    rows = {r["k"]: r for r in apply_plan(df, plan).collect()}
    assert rows["a"]["s"] is None            # NOT coerced to '2.5'
    assert rows["a"]["v"] == big             # exact bigint fill
    assert rows["b"]["s"] == "keep"


def test_apply_plan_imputes_nan_in_float_columns(spark):
    """Round-3 ADVICE: df.na.fill (and the reference's pandas fillna)
    replace NaN as well as NULL in floating columns — coalesce alone
    left NaN behind. The imputed value must then flow through the cap
    step like any other."""
    from automatic_data_validator_spark.correct import CorrectionPlan, apply_plan
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").cast("int").alias("k"),
        F.when(F.col("id") == 0, F.lit(1.0))
        .when(F.col("id") == 1, F.expr("double('NaN')"))
        .when(F.col("id") == 2, F.lit(None).cast("double"))
        .otherwise(F.lit(100.0))
        .alias("x"),
    )
    plan = CorrectionPlan(
        dedup_keys=["k"], order_key="k",
        imputations={"x": 5.0}, caps={"x": (0.0, 50.0)},
    )
    rows = {r["k"]: r["x"] for r in apply_plan(df, plan).collect()}
    assert rows == {0: 1.0, 1: 5.0, 2: 5.0, 3: 50.0}, rows
    assert not any(math.isnan(v) for v in rows.values())


def test_run_summary_matches_hand_computed(spark):
    """Round-3 VERDICT directive #4: the rollup vs hand-computed values
    from a run's lineage (reference logger.py get_session_summary /
    get_performance_metrics analog)."""
    from automatic_data_validator_spark.rules import VERDICT_SCHEMA
    from automatic_data_validator_spark.state import (
        LINEAGE_SCHEMA,
        export_summary,
        run_summary,
    )

    lineage = spark.createDataFrame(
        [
            ("row_rules", 0, "s", "v1", 1.0, 2.5, "not_null", 100, 0),
            ("row_rules", 1, "s", "v1", 1.0, 2.5, "not_null", 50, 10),
            ("row_rules", 0, "s", "v1", 1.0, 2.5, "span_order", 100, 5),
            ("row_rules", 1, "s", "v1", 1.0, 2.5, "span_order", 50, 0),
            ("uniqueness", 0, "s", "v1", 1.0, 4.0, "unique_key", 150, 30),
        ],
        LINEAGE_SCHEMA,
    )
    verdicts = spark.createDataFrame(
        [
            (0, "not_null", 100, 0, True),
            (1, "not_null", 50, 10, False),
            (0, "span_order", 100, 5, False),
            (1, "span_order", 50, 0, True),
            (0, "unique_key", 150, 30, False),
        ],
        VERDICT_SCHEMA,
    )
    rows = {(r["phase"], r["op"]): r for r in run_summary(lineage, verdicts).collect()}
    nn = rows[("row_rules", "not_null")]
    assert nn["duration_s"] == 2.5
    assert nn["partitions"] == 2
    assert nn["row_count"] == 150 and nn["violation_count"] == 10
    assert math.isclose(nn["pass_rate"], 1.0 - 10 / 150)
    assert nn["passed"] is False
    so = rows[("row_rules", "span_order")]
    assert so["violation_count"] == 5 and so["passed"] is False
    uk = rows[("uniqueness", "unique_key")]
    assert uk["partitions"] == 1 and uk["duration_s"] == 4.0
    tot = rows[("__run__", "__total__")]
    # phase durations: row_rules 2.5 + uniqueness 4.0 (not per-op sums)
    assert tot["duration_s"] == 6.5
    # wall clock (round-4 VERDICT wrong #4): every row ends at ts=1.0,
    # so the phases OVERLAP — the run's true wall is the longest span
    # (uniqueness: start 1.0-4.0=-3.0 .. end 1.0), not the 6.5 sum
    assert tot["wall_s"] == 4.0
    assert nn["wall_s"] is None  # per-op rows don't carry it
    assert tot["row_count"] == 450 and tot["violation_count"] == 45
    assert math.isclose(tot["pass_rate"], 1.0 - 45 / 450)
    assert tot["passed"] is False
    # export round-trips as json and csv
    import json as _json
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        p = export_summary(run_summary(lineage, verdicts), os.path.join(d, "s.json"))
        data = _json.load(open(p))
        assert len(data) == 4 and any(r["phase"] == "__run__" for r in data)
        p2 = export_summary(
            run_summary(lineage, verdicts), os.path.join(d, "s.csv"), fmt="csv"
        )
        assert open(p2).readline().startswith("phase,op,duration_s")


def test_text_change_report_counts(spark):
    """text_change_report vs hand-computed terms on a tiny corpus
    (reference text_processor.py:645-718 wording)."""
    from automatic_data_validator_spark.textops import clean_text, text_change_report

    orig = spark.createDataFrame(
        [
            (1, "Hello world. Visit https://x.co <b>now</b>!"),
            (2, "plain text only"),
            (3, None),
        ],
        "doc_id int, text string",
    )
    cleaned = orig.select("doc_id", clean_text("text").alias("text"))
    rep = {r["metric"]: r for r in text_change_report(orig, cleaned).collect()}
    assert rep["n_docs"]["before"] == 3.0 and rep["n_docs"]["after"] == 3.0
    assert rep["urls"]["before"] == 1.0 and rep["urls"]["after"] == 0.0
    assert rep["html_tags"]["before"] == 2.0 and rep["html_tags"]["after"] == 0.0
    assert rep["docs_with_html"]["before"] == 1.0
    # doc 1: "Hello world. Visit !" after cleaning -> chars shrink
    assert rep["total_chars"]["after"] < rep["total_chars"]["before"]
    assert rep["length_reduction"]["change"] < 0
    assert rep["reduction_percentage"]["change"] > 0
    # words: doc1 5 ws-tokens -> 5 ("<b>now</b>!" -> "now !"), doc2 3
    assert rep["total_words"]["before"] == 8.0
    assert rep["total_words"]["after"] == 8.0


def test_cap_preserves_nan_when_no_impute(spark):
    """Round-4 review: Spark sorts NaN above every double, so an
    unguarded least/greatest cap rewrote a surviving NaN to the UPPER
    bound — pandas clip preserves NaN. A caps-only plan (no imputation
    scheduled) must keep NaN as NaN."""
    from automatic_data_validator_spark.correct import CorrectionPlan, apply_plan
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.col("id").cast("int").alias("k"),
        F.when(F.col("id") == 0, F.lit(1.0))
        .when(F.col("id") == 1, F.expr("double('NaN')"))
        .otherwise(F.lit(100.0))
        .alias("x"),
    )
    plan = CorrectionPlan(dedup_keys=["k"], order_key="k", caps={"x": (0.0, 50.0)})
    rows = {r["k"]: r["x"] for r in apply_plan(df, plan).collect()}
    assert rows[0] == 1.0 and rows[2] == 50.0
    assert math.isnan(rows[1]), rows[1]


def test_drift_report_flags_empty_current_sketch(spark):
    """Round-4 review: an all-null batch yields an empty sketch and
    NaN KS/PSI — 'NaN > threshold' is False, so total data loss was
    reported as drifted=false. One-sided emptiness must fire."""
    rng = np.random.RandomState(11)
    baseline = {"x": grid_sketch(rng.normal(5, 1, 5000)),
                "z": grid_sketch()}
    cur = spark.createDataFrame(
        pd.DataFrame({"x": [None] * 100, "z": [None] * 100}), "x double, z double"
    )
    rep = {r["column"]: r for r in drift_report(cur, baseline)}
    assert rep["x"]["drifted"] is True and rep["x"]["reason"] == "empty_sketch"
    # both sides empty: an always-null column is not perpetual drift
    assert rep["z"]["drifted"] is False and rep["z"]["reason"] == "both_empty"


def test_cap_preserves_null_when_no_impute(spark):
    """Round-4 review (runtime-confirmed): least/greatest SKIP nulls,
    so an unguarded cap rewrote NULL to the LOWER bound — pandas clip
    preserves missing values. Both float and int columns."""
    from automatic_data_validator_spark.correct import CorrectionPlan, apply_plan
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.col("id").cast("int").alias("k"),
        F.when(F.col("id") == 1, F.lit(None)).otherwise(F.col("id") * 100)
        .cast("double").alias("x"),
        F.when(F.col("id") == 1, F.lit(None)).otherwise(F.col("id") * 100)
        .cast("int").alias("y"),
    )
    plan = CorrectionPlan(
        dedup_keys=["k"], order_key="k",
        caps={"x": (10.0, 150.0), "y": (10.0, 150.0)},
    )
    rows = {r["k"]: r for r in apply_plan(df, plan).collect()}
    assert rows[0]["x"] == 10.0 and rows[2]["x"] == 150.0
    assert rows[1]["x"] is None and rows[1]["y"] is None


def test_grouped_drift_report_degenerate_groups(spark):
    """Round-4 review: one-sided empty sketches and vanished/appeared
    groups must fire drifted=true with a reason; every row carries a
    uniform 'reason' key."""
    from automatic_data_validator_spark.drift import drift_report_sketches

    rng = np.random.RandomState(13)
    base = pd.DataFrame(
        {"g": ["a"] * 500 + ["gone"] * 500 + ["nulled"] * 500,
         "v": np.concatenate([rng.normal(0, 1, 500),
                              rng.normal(5, 1, 500),
                              rng.normal(9, 1, 500)])}
    )
    cur = pd.DataFrame(
        {"g": ["a"] * 500 + ["new"] * 500 + ["nulled"] * 500,
         "v": list(rng.normal(0, 1, 500)) + list(rng.normal(2, 1, 500))
              + [None] * 500}
    )
    rep = {r["group"]: r for r in drift_report_sketches(
        sketch_columns(spark.createDataFrame(cur), ["v"], group_by="g"),
        sketch_columns(spark.createDataFrame(base), ["v"], group_by="g"), ["v"])}
    assert rep["a"]["drifted"] is False and rep["a"]["reason"] == "stats"
    assert rep["gone"]["drifted"] is True and rep["gone"]["reason"] == "missing_in_current"
    assert rep["new"]["drifted"] is True and rep["new"]["reason"] == "missing_in_baseline"
    assert rep["nulled"]["drifted"] is True and rep["nulled"]["reason"] == "empty_sketch"
    assert all("reason" in r for r in rep.values())


def test_grouped_sketch_numeric_group_keys_are_canonical(spark):
    """Round-5 review fix: group keys are canonicalized Spark-side.
    A NUMERIC cohort column with NULL rows used to stringify
    batch-dependently in pandas (int64 batches -> '1', float64 batches
    containing a NaN -> '1.0'), splitting one cohort into two keys;
    NULL groups became 'None' instead of the documented 'null'."""
    rows = [(1, float(i)) for i in range(50)]
    rows += [(None, 100.0 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "cohort int, v double").repartition(6)
    sk = sketch_columns(df, ["v"], group_by="cohort")
    assert set(sk) == {"1", "null"}, set(sk)
    assert sk["1"]["v"].total_weight == 50
    assert sk["null"]["v"].total_weight == 10


def test_grouped_drift_per_pair_holes_fire_not_skip(spark):
    """Round-5 review fix: a (group, column) sketch present on exactly
    one side fires missing_in_* drift instead of emitting nothing, an
    empty column dict on the present side of a one-sided group emits a
    sentinel row, and requested columns are reported even when the
    present side lacks them."""
    from automatic_data_validator_spark.drift import drift_report_sketches

    d = grid_sketch(np.arange(100, dtype=np.float64))
    # g1 on both sides but baseline lacks column 'v2'
    cur = {"g1": {"v1": d, "v2": d}, "g2": {}}
    baseline = {"g1": {"v1": d}}
    rep = drift_report_sketches(cur, baseline, ["v1", "v2"])
    by = {(r["group"], r["column"]): r for r in rep}
    assert not by[("g1", "v1")]["drifted"]
    assert by[("g1", "v2")]["drifted"]
    assert by[("g1", "v2")]["reason"] == "missing_in_baseline"
    # g2 present with an EMPTY dict and absent from baseline: every
    # requested column fires (falsy-or would have dropped the group)
    assert by[("g2", "v1")]["reason"] == "missing_in_baseline"
    assert by[("g2", "v2")]["drifted"] and by[("g2", "v2")]["n_current"] == 0
    # hole on the CURRENT side -> missing_in_current
    rep2 = drift_report_sketches(
        {"g1": {"v1": d}}, {"g1": {"v1": d, "v2": d}}, ["v1", "v2"]
    )
    by2 = {(r["group"], r["column"]): r for r in rep2}
    assert by2[("g1", "v2")]["reason"] == "missing_in_current"
    # no column info at all: sentinel row keeps the cohort visible
    rep3 = drift_report_sketches({"gx": {}}, {})
    assert [(r["group"], r["column"], r["reason"]) for r in rep3] == [
        ("gx", "__any__", "missing_in_baseline")
    ]


def test_load_grouped_baseline_rejects_flat_file(spark, tmp_path):
    """Symmetric format guard (round-5 review): pointing cohort drift
    at a FLAT save_baseline file must fail fast with the remedy named,
    not die on an opaque Row['group'] error inside a streaming job."""
    from automatic_data_validator_spark.drift import (
        load_grouped_baseline, save_baseline)

    save_baseline(
        {"x": grid_sketch(np.arange(100, dtype=np.float64))},
        spark, str(tmp_path / "flat"),
    )
    with pytest.raises(ValueError, match="save_grouped_baseline"):
        load_grouped_baseline(spark, str(tmp_path / "flat"))
