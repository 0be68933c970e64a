"""Driver-held result frames are JVM local relations.

``session.local_frame`` builds a DataFrame from rows already on the
driver as an Arrow table, which Spark plans as a ``LocalRelation``.
``createDataFrame(<list>)`` plans as ``Scan ExistingRDD`` over a
pickled Python RDD, so every action on such a frame starts Python
workers. These tests pin three things: the helper returns the rows
``createDataFrame(<list>)`` returns, the engine's driver-held outputs
plan without a Python RDD scan, and no package code builds a frame
from Python rows any other way.
"""

from __future__ import annotations

import ast
import math
import pathlib

import pytest

from automatic_data_validator_spark import dedup as D
from automatic_data_validator_spark import refcheck, state
from automatic_data_validator_spark import rules as R
from automatic_data_validator_spark.profile import ProfileResult
from automatic_data_validator_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "automatic_data_validator_spark"
I64_MAX, I64_MIN = 2**63 - 1, -(2**63)
TEXT = "naïve — 漢字 🙂"


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _canon(rows):
    """Sortable, NaN-comparable form of collected rows."""
    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return ("nan",)
        return (type(v).__name__, v)

    return sorted(tuple(cell(v) for v in r) for r in rows)


def _schemas(spark):
    metrics = ProfileResult(0, {}, {}).metrics_df(spark).schema
    ids = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    sids = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    return {
        "verdict": (R.VERDICT_SCHEMA, [
            (0, "r", I64_MAX, 0, True),
            (-1, TEXT, 0, I64_MAX, False),
            (2**31 - 1, "", I64_MIN, I64_MIN, True),
        ]),
        "violation": (R.VIOLATION_SCHEMA, [
            (None, "r", 0, None),
            (TEXT, "r2", -1, TEXT),
            ("d1", "r", 3, ""),
        ]),
        "lineage": (state.LINEAGE_SCHEMA, [
            ("row_rules", None, None, None, 1.5, None, "r", None, None),
            ("p", 3, "snap", "v1", float("nan"), float("inf"), TEXT,
             I64_MAX, I64_MIN),
        ]),
        "run_summary": (state.RUN_SUMMARY_SCHEMA, [
            ("__run__", "__total__", None, None, None, None, None, None, None),
            ("p", TEXT, 1.25, float("nan"), I64_MAX, I64_MIN, 0,
             float("-inf"), False),
        ]),
        "metrics": (metrics, [
            ("", "row_count", 5.0),
            ("c", "mean", None),
            (TEXT, "std", float("nan")),
            ("c", "max", 1.7976931348623157e308),
        ]),
        "label_long": (D._label_schema(ids), [
            (I64_MAX, I64_MIN), (None, 1), (2, None),
        ]),
        "label_string": (D._label_schema(sids), [
            (TEXT, "a"), (None, None),
        ]),
    }


def test_local_frame_rows_equal_create_dataframe(spark):
    for name, (schema, rows) in _schemas(spark).items():
        lf = local_frame(spark, rows, schema)
        ref = spark.createDataFrame(rows, schema)
        assert lf.schema == schema, name
        assert _canon(lf.collect()) == _canon(ref.collect()), name
        # empty input keeps the schema exactly, nullability included
        empty = local_frame(spark, [], schema)
        assert empty.schema == schema, name
        assert empty.collect() == [], name


def test_local_frame_takes_ddl_schema(spark):
    ddl = "band int, bucket long, n_docs long"
    rows = [(1, I64_MAX, 0), (None, I64_MIN, None)]
    lf = local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert lf.schema == ref.schema
    assert _canon(lf.collect()) == _canon(ref.collect())


def test_local_frame_keeps_not_null_check(spark):
    """verifySchema's not-null check survives: the Arrow cast rejects a
    None in a non-nullable field, as createDataFrame(<list>) does."""
    bad = [(None, "r", 1, 0, True)]
    with pytest.raises(Exception):
        spark.createDataFrame(bad, R.VERDICT_SCHEMA).collect()
    with pytest.raises(ValueError):
        local_frame(spark, bad, R.VERDICT_SCHEMA)
    with pytest.raises(ValueError):
        local_frame(spark, [("d", "r", 0)], R.VIOLATION_SCHEMA)


def test_driver_held_outputs_plan_without_python_rdd(spark, docs, catalog, tmp_path):
    """The engine's driver-held frames never plan a Python RDD scan,
    and run_validation returns each of them as ONE partition (one file
    per output when written)."""
    from automatic_data_validator_spark import drift
    from automatic_data_validator_spark.validate import run_validation

    signals = drift.document_signals(docs)
    baseline = drift.sketch_columns(signals, ["n_spans", "text_chars"])
    res = run_validation(
        spark, docs, catalog=catalog, drift_baseline=baseline,
        drift_signals=drift.document_signals,
    )
    assert any(r["rule_id"].startswith("drift_") for r in res.verdicts.collect())
    frames = {
        "verdicts": res.verdicts,
        "lineage": res.lineage,
        "metrics": res.metrics,
        "run_summary": state.run_summary(res.lineage, res.verdicts),
    }
    u_verdicts, u_viol = D.uniqueness_check(docs, "doc_id")
    frames["uniqueness_verdicts"] = u_verdicts
    r_verdicts, r_viol = refcheck.referential_check(docs, catalog)
    frames["referential_verdicts"] = r_verdicts
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    _kept, drop_list = D.dedup_keep_representatives(docs, pairs)
    assert sorted(map(tuple, drop_list.collect())) == [("b", "a"), ("c", "a")]
    frames["drop_list"] = drop_list
    try:
        for name, df in frames.items():
            assert "ExistingRDD" not in _plan(df), name
        for name in ("verdicts", "lineage", "metrics"):
            out = tmp_path / name
            frames[name].write.parquet(str(out))
            assert len(list(out.glob("part-*.parquet"))) == 1, name
    finally:
        u_viol.unpersist()
        r_viol.unpersist()


# package functions allowed to call createDataFrame directly:
# local_frame itself, and read_excel, whose input is pandas frames
CREATE_DATAFRAME_ALLOWED = {"session.local_frame", "sources.read_excel"}


def _create_dataframe_callers() -> set[str]:
    found = set()
    for path in sorted(PACKAGE.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))

        def visit(node, scope):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    visit(child, scope + [child.name])
                    continue
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"
                ):
                    found.add(".".join([path.stem] + scope))
                visit(child, scope)

        visit(tree, [])
    return found


def test_no_create_dataframe_outside_local_frame():
    """Spark-free lint: every driver-held frame in the package goes
    through session.local_frame."""
    callers = _create_dataframe_callers()
    assert callers - CREATE_DATAFRAME_ALLOWED == set()
    # the guard sees the calls it allows (it is not scanning nothing)
    assert CREATE_DATAFRAME_ALLOWED <= callers



# functions whose persist()/cache() must be released in a finally of the
# same function; None = every function of the module
RELEASED_CACHE_SCOPE = {
    "validate": None,
    "rules": None,
    "refcheck": None,
    "dedup": {"uniqueness_check"},
}


def _unreleased_caches(source: str, names: "set[str] | None") -> "set[str]":
    """Functions of ``source`` (those in ``names``, or all) that call
    .persist()/.cache() with no .unpersist() call inside a ``finally``
    of the same function. Nested functions are separate scopes."""

    def own_nodes(fn):
        stack = list(ast.iter_child_nodes(fn))
        while stack:
            node = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            yield node
            stack.extend(ast.iter_child_nodes(node))

    def calls(nodes, attrs):
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in attrs
            for n in nodes
        )

    bad = set()
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if names is not None and fn.name not in names:
            continue
        nodes = list(own_nodes(fn))
        if calls(nodes, {"persist", "cache"}) and not any(
            isinstance(t, ast.Try)
            and calls([n for st in t.finalbody for n in ast.walk(st)], {"unpersist"})
            for t in nodes
        ):
            bad.add(fn.name)
    return bad


def test_validation_caches_are_released_in_finally():
    """Spark-free lint against the cache-leak class: a persisted frame
    that outlives its function stays in the session's cache manager,
    where a later run over a path rewritten in place matches the stale
    plan and returns the old rows. The validation path may only cache
    a frame it releases in a ``finally``; results that outlive the call
    are checkpoints or local relations."""
    for module, names in RELEASED_CACHE_SCOPE.items():
        source = (PACKAGE / f"{module}.py").read_text()
        assert _unreleased_caches(source, names) == set(), module
    # the guard tells a leak from a release (it is not passing vacuously)
    leak = "def f(df):\n    x = df.persist()\n    return x\n"
    nested = (
        "def f(df):\n    try:\n        def g():\n            return df.cache()\n"
        "        return g()\n    finally:\n        df.unpersist()\n"
    )
    released = (
        "def f(df):\n    x = df.persist()\n    try:\n        return x.count()\n"
        "    finally:\n        x.unpersist()\n"
    )
    assert _unreleased_caches(leak, None) == {"f"}
    assert _unreleased_caches(nested, None) == {"g"}
    assert _unreleased_caches(released, None) == set()
