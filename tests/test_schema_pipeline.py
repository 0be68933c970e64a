"""Cast plan, pipeline emission, profile extensions."""

from __future__ import annotations

import numpy as np
import pandas as pd

from automatic_data_validator_spark import rules as R
from automatic_data_validator_spark.correct import CorrectionPlan
from automatic_data_validator_spark.pipeline import emit_manifest, emit_pipeline
from automatic_data_validator_spark.profile import (
    correlation_pairs,
    missing_pattern,
    profile,
    topk_values,
)
from automatic_data_validator_spark.schema import (
    CastSpec,
    apply_cast_plan,
    suggest_cast_plan,
    validate_cast_plan,
)


def test_cast_plan_roundtrip(spark):
    pdf = pd.DataFrame(
        {
            "num_str": ["1", "2", "3", "oops"],
            "date_str": ["2023-01-01", "2023-02-01", "bad", "2023-04-01"],
            "flag": ["yes", "no", "TRUE", "maybe"],
            "keep": [1, 2, 3, 4],
        }
    )
    df = spark.createDataFrame(pdf)
    plan = [
        CastSpec("num_str", "bigint"),
        CastSpec("date_str", "date", fmt="yyyy-MM-dd"),
        CastSpec("flag", "boolean"),
    ]
    rep = validate_cast_plan(df, plan)
    assert rep["num_str"]["nulls_created"] == 1
    assert rep["date_str"]["nulls_created"] == 1
    assert rep["flag"]["nulls_created"] == 1
    out = apply_cast_plan(df, plan)
    types = dict(out.dtypes)
    assert types == {"num_str": "bigint", "date_str": "date",
                     "flag": "boolean", "keep": "bigint"}
    rows = out.orderBy("keep").collect()
    assert rows[0]["num_str"] == 1 and rows[3]["num_str"] is None
    assert rows[2]["flag"] is True and rows[3]["flag"] is None


def test_suggest_cast_plan_from_profile(spark):
    pdf = pd.DataFrame(
        {
            "as_num": [str(i) for i in range(100)],
            "as_date": pd.date_range("2020-01-01", periods=100).strftime("%Y-%m-%d"),
            "plain": ["x"] * 100,
        }
    )
    p = profile(spark.createDataFrame(pdf), exact_distinct=True)
    plan = {s.column: s for s in suggest_cast_plan(p.suggestions)}
    assert plan["as_num"].target == "double"
    assert plan["as_date"].target == "timestamp" and plan["as_date"].fmt == "yyyy-MM-dd"
    assert "plain" not in plan


def test_pipeline_emission_deterministic_and_valid_python(tmp_path):
    rules = [
        R.Rule("not_null_doc_id", "not_null", column="doc_id"),
        R.Rule("span_order", "span_order", column="spans"),
    ]
    plan = CorrectionPlan(dedup_keys=["doc_id"], order_key="doc_id")
    s1 = emit_pipeline(rules, plan)
    s2 = emit_pipeline(rules, plan)
    assert s1 == s2  # byte-stable
    compile(s1, "advs_pipeline.py", "exec")  # syntactically valid
    m = emit_manifest(rules, plan)
    assert m["rules"][0]["rule_id"] == "not_null_doc_id"
    assert "cleaned" in m["outputs"]


def test_correlation_pairs(spark):
    rng = np.random.RandomState(0)
    a = rng.normal(size=3000)
    pdf = pd.DataFrame({"a": a, "b": a * 2 + rng.normal(scale=0.01, size=3000),
                        "c": rng.normal(size=3000)})
    pairs = {(p["col_a"], p["col_b"]): p for p in correlation_pairs(spark.createDataFrame(pdf))}
    assert pairs[("a", "b")]["high"] is True
    assert abs(pairs[("a", "b")]["corr"] - np.corrcoef(a, pdf["b"])[0, 1]) < 1e-6
    assert pairs[("a", "c")]["high"] is False


def test_missing_pattern(spark):
    pdf = pd.DataFrame(
        {
            "x": [None if i % 5 == 0 else 1.0 for i in range(1000)],
            "y": [None if i % 5 == 0 else 2.0 for i in range(1000)],  # co-missing
            "z": [None if i % 7 == 0 else 3.0 for i in range(1000)],
        }
    )
    rep = missing_pattern(spark.createDataFrame(pdf))
    cm = {(c["col_a"], c["col_b"]) for c in rep["correlated_missing"]}
    assert ("x", "y") in cm
    oracle_multi = int((pdf.isna().sum(axis=1) > 1).sum())
    assert rep["rows_multi_missing"] == oracle_multi


def test_topk_values(spark):
    pdf = pd.DataFrame(
        {"u": ["a"] * 50 + ["b"] * 30 + ["c"] * 20, "v": ["x"] * 99 + ["y"]}
    )
    df = spark.createDataFrame(pdf)
    got = topk_values(df, ["u", "v"], k=2).collect()
    by_col = {}
    for r in got:
        by_col.setdefault(r["col_name"], []).append((r["rnk"], r["value"], r["cnt"]))
    assert sorted(by_col["u"]) == [(1, "a", 50), (2, "b", 30)]
    assert sorted(by_col["v"]) == [(1, "x", 99), (2, "y", 1)]


def test_emitted_pipeline_actually_runs(spark, tmp_path):
    """The emitted runner must EXECUTE end to end in a fresh process
    (new JVM), not just compile: reload rules from its embedded JSON,
    validate, write all outputs plus the cleaned table."""
    import os
    import subprocess
    import sys

    from automatic_data_validator_spark.correct import CorrectionPlan
    from automatic_data_validator_spark.rules import Rule

    rules = [
        Rule("not_null_doc_id", "not_null", column="doc_id"),
        Rule("n_pos", "expr", expr="n_chars >= 0"),
    ]
    plan = CorrectionPlan(imputations={"n_chars": 0},
                          caps={"n_chars": (0.0, 100.0)})
    script = emit_pipeline(rules, plan)
    sp = tmp_path / "advs_pipeline.py"
    sp.write_text(script)
    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [("d1", 5), ("d2", None), (None, 7)], "doc_id string, n_chars int"
    ).write.parquet(inp)
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(__file__)))
    out = str(tmp_path / "out")
    proc = subprocess.run([sys.executable, str(sp), inp, out],
                          capture_output=True, text=True, env=env, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    for name in ("verdicts", "violations", "lineage", "cleaned"):
        got = spark.read.parquet(f"{out}/{name}")
        assert got.count() >= 0
    cleaned = spark.read.parquet(f"{out}/cleaned").collect()
    assert all(r["n_chars"] is not None for r in cleaned)  # fillna applied


def test_fractional_imputation_upcasts_int_columns(spark):
    """Pandas fillna upcasts int->float for fractional fills; the plan's
    recorded value must equal the applied value (no silent truncation),
    and fractional IQR caps keep the double like pandas clip."""
    import pandas as pd

    from automatic_data_validator_spark.correct import CorrectionPlan, apply_plan

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a", "b", "c"], "v": pd.array([1, None, 100], dtype="Int64")})
    )
    plan = CorrectionPlan(dedup_keys=["doc_id"], imputations={"v": 2.5},
                          caps={"v": (0.5, 50.5)})
    out = {r["doc_id"]: r["v"] for r in apply_plan(df, plan).collect()}
    assert out["b"] == 2.5            # not truncated to 2
    assert out["c"] == 50.5           # fractional cap applied exactly
    assert out["a"] == 1.0


def test_emitted_pipeline_survives_quote_heavy_rules(spark):
    """Rule strings containing ''' (SQL-escaped quotes) must not break
    the emitted script's embedded JSON literal."""
    from automatic_data_validator_spark.rules import Rule

    script = emit_pipeline(
        [Rule("q", "expr", expr="trim(doc_id) != '''' and length(doc_id) > 0")]
    )
    compile(script, "advs_pipeline.py", "exec")
    assert "json.loads('" in script or 'json.loads("' in script


def test_emitted_package_selfcheck_suite_passes(tmp_path):
    """Round-3 directives #3/#5: create_package writes runner + the
    emitted pytest suite + README + requirements + manifest + the
    engine zip; the EMITTED suite must pass in a fresh process whose
    PYTHONPATH contains ONLY the packaged advs.zip (validating the
    spark-submit --py-files layout end to end)."""
    import os
    import subprocess
    import sys

    from automatic_data_validator_spark.correct import CorrectionPlan
    from automatic_data_validator_spark.pipeline import create_package
    from automatic_data_validator_spark.rules import Rule

    rules = [
        Rule("not_null_id", "not_null", column="id"),
        Rule("age_digits", "regex", column="age", params={"pattern": r"^\d+$"}),
    ]
    plan = CorrectionPlan(
        imputations={"name": "Unknown", "salary": 65000.0},
        casts={"age": "int"},
    )
    pkg = str(tmp_path / "pkg")
    paths = create_package(rules, plan, out_dir=pkg)
    for name in ("advs_pipeline.py", "test_advs_pipeline.py", "README.md",
                 "requirements.txt", "manifest.json", "advs.zip"):
        assert os.path.exists(paths[name]), name
    readme = open(paths["README.md"]).read()
    assert "spark-submit --py-files advs.zip" in readme
    assert "not_null_id" in readme and "correction plan" in readme.lower()

    # engine importable from the zip ALONE (bare-cluster layout)
    probe = subprocess.run(
        [sys.executable, "-c",
         "import automatic_data_validator_spark.validate as v; print('zip-ok')"],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": paths["advs.zip"]},
        cwd=pkg, timeout=120,
    )
    assert probe.returncode == 0 and "zip-ok" in probe.stdout, probe.stderr[-500:]

    # the emitted self-check suite runs green in a fresh process/JVM
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", paths["test_advs_pipeline.py"], "-x", "-q"],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": paths["advs.zip"]},
        cwd=pkg, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-1000:]
    assert "passed" in proc.stdout


def test_emit_tests_fixture_selection(tmp_path):
    """Round-3 review finding: the emitted suite's fixture must match
    the ruleset — documents-shaped rules get the spans fixture, rules
    over unknown columns fail loudly at EMISSION (not at the user's
    first test run)."""
    import subprocess
    import sys
    import os

    import pytest as _pytest

    from automatic_data_validator_spark.pipeline import create_package, emit_tests
    from automatic_data_validator_spark.validate import DEFAULT_RULES
    from automatic_data_validator_spark.rules import Rule

    # flagship documents rules -> spans fixture, suite runs green
    pkg = str(tmp_path / "pkg_docs")
    paths = create_package(list(DEFAULT_RULES), plan=None, out_dir=pkg)
    txt = open(paths["test_advs_pipeline.py"]).read()
    assert "spans array<struct" in txt and "Alice" not in txt
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", paths["test_advs_pipeline.py"], "-x", "-q"],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": paths["advs.zip"]},
        cwd=pkg, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:]

    # unknown columns -> loud emission-time error
    with _pytest.raises(ValueError, match="fixture"):
        emit_tests(rules=[Rule("nn", "not_null", column="movie_title")])
