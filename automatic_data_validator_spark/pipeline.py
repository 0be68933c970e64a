"""Pipeline emission.

Reference: PipelineGenerator (pipeline_generator.py:16-510) asks an
LLM to write a standalone pandas script, lints it, and falls back to a
template. Here the pipeline IS data: the rule set + correction plan
serialize to JSON, and the emitted artifact is a small, readable
spark-submit runner that re-loads them through this package — no
generated logic, nothing to lint, byte-stable output.

Emission parity surface (round-3 directives #3/#5):
  emit_pipeline   runner script            (pipeline_generator.py:16-510)
  emit_tests      runnable pytest suite w/ the 6-row dirty fixture
                  (pipeline_generator.py:696-836; fixture :716-722 —
                  dup id, null name, mixed-type age, null salary)
  emit_readme     documentation            (pipeline_generator.py:512-637)
  create_package  runner+tests+README+requirements+manifest+engine zip
                  (pipeline_generator.py:838-918)
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict
from typing import Any

from .correct import CorrectionPlan
from .rules import Rule

RUNNER_TEMPLATE = '''#!/usr/bin/env python
"""Auto-emitted validation/correction pipeline (rule-set driven).

Run: spark-submit --py-files advs.zip {script_name} <input_parquet> <output_dir>
"""

import json
import sys

from pyspark.sql import SparkSession

from automatic_data_validator_spark import rules as R
from automatic_data_validator_spark.correct import CorrectionPlan, apply_plan
from automatic_data_validator_spark.sources import parquet_writer
from automatic_data_validator_spark.validate import run_validation

RULESET = json.loads({ruleset_literal})
PLAN = json.loads({plan_literal})
KEY_COLUMN = {key_column_literal}  # None -> first column of the input


def run(spark, inp, out):
    """Validate + clean <inp>, writing all outputs under <out>.
    Returns the ValidationResult (testable without spark-submit).
    The implicit whole-table uniqueness check is off for emitted
    pipelines (arbitrary tables need no doc_id); declare a
    unique_key rule to opt in."""
    df = spark.read.parquet(inp)
    rules = [R.Rule(**r) for r in RULESET]
    # snapshot_id="auto" fingerprints the input file list: re-running
    # against CHANGED input with the same output dir invalidates the
    # phase checkpoints instead of silently reusing stale results
    res = run_validation(spark, df, rule_set=rules,
                         key_column=KEY_COLUMN or df.columns[0],
                         check_uniqueness=False,
                         checkpoint_dir=out + "/_checkpoints",
                         snapshot_id="auto",
                         rule_version="{rule_version}")
    # zstd, like every parquet file the engine writes
    parquet_writer(res.verdicts).parquet(out + "/verdicts")
    parquet_writer(res.violations).parquet(out + "/violations")
    if res.metrics is not None:
        parquet_writer(res.metrics).parquet(out + "/metrics")
    parquet_writer(res.lineage).parquet(out + "/lineage")
    if PLAN is not None:
        plan_dict = dict(PLAN)
        plan_dict["caps"] = {{k: tuple(v) for k, v in (plan_dict.get("caps") or {{}}).items()}}
        plan = CorrectionPlan(**plan_dict)
        cleaned = apply_plan(df, plan)
        parquet_writer(cleaned).parquet(out + "/cleaned")
    return res


def main() -> None:
    inp, out = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName("advs-pipeline").getOrCreate()
    run(spark, inp, out)
    spark.stop()


if __name__ == "__main__":
    main()
'''


TEST_TEMPLATE = '''"""Auto-emitted self-check suite for {script_name} — run with
``python -m pytest {test_name} -x -q`` next to the runner.

Mirrors the reference's generated unittest suite
(pipeline_generator.py:696-836): a 6-row dirty fixture (duplicate id,
null name, mixed-type age, null salary), zero-duplicates-after-clean,
nulls-non-increasing, and bad-path error assertions.
"""

import importlib.util
import os

import pytest


def _load_runner():
    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "advs_emitted_runner", os.path.join(here, {script_name_lit})
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("advs-emitted-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = {fixture_rows_lit}
    return spark.createDataFrame(rows, {fixture_schema_lit})


@pytest.fixture(scope="module")
def run_once(spark, fixture_df, tmp_path_factory):
    base = tmp_path_factory.mktemp("advs_emitted")
    inp, out = str(base / "in"), str(base / "out")
    fixture_df.write.parquet(inp)
    runner = _load_runner()
    res = runner.run(spark, inp, out)
    return spark, out, res


def test_outputs_exist(run_once):
    spark, out, _res = run_once
    for name in ("verdicts", "violations", "lineage"):
        assert spark.read.parquet(out + "/" + name).count() >= 0
{clean_tests}

def test_bad_input_path_errors(spark, tmp_path):
    runner = _load_runner()
    with pytest.raises(Exception):
        runner.run(spark, str(tmp_path / "does_not_exist"), str(tmp_path / "o"))
'''

CLEAN_TESTS_TEMPLATE = '''

def test_cleaned_written_and_no_duplicates(run_once):
    spark, out, _res = run_once
    cleaned = spark.read.parquet(out + "/cleaned")
    n = cleaned.count()
    assert 0 < n <= 6
    # zero full-row duplicates after cleaning
    assert cleaned.distinct().count() == n


def test_nulls_non_increasing(run_once, fixture_df):
    spark, out, _res = run_once
    cleaned = spark.read.parquet(out + "/cleaned")

    def total_nulls(df):
        import pyspark.sql.functions as F

        row = df.select(
            [F.sum(F.col(c).isNull().cast("long")).alias(c) for c in df.columns]
        ).collect()[0]
        return sum(int(v or 0) for v in row)

    assert total_nulls(cleaned) <= total_nulls(fixture_df)
'''


def serialize_rules(rules: list[Rule]) -> str:
    return json.dumps([asdict(r) for r in rules], indent=2, sort_keys=True)


def serialize_plan(plan: CorrectionPlan | None) -> str:
    if plan is None:
        return "null"
    d = asdict(plan)
    d["caps"] = {k: list(v) for k, v in (plan.caps or {}).items()}
    return json.dumps(d, indent=2, sort_keys=True)


def rule_version_of(rules: list[Rule]) -> str:
    import hashlib

    return "rv-" + hashlib.md5(serialize_rules(rules).encode()).hexdigest()[:12]


def emit_pipeline(
    rules: list[Rule],
    plan: CorrectionPlan | None = None,
    script_name: str = "advs_pipeline.py",
    key_column: str | None = None,
) -> str:
    """Return the runner script text (caller writes it next to the
    --py-files zip). Deterministic: same rules+plan -> same bytes.
    key_column: violation-attribution key; defaults to the input's
    first column at run time."""
    # JSON embedded via repr(): a raw triple-quoted literal would break
    # on any rule string containing ''' (e.g. SQL-escaped quotes)
    return RUNNER_TEMPLATE.format(
        script_name=script_name,
        ruleset_literal=repr(serialize_rules(rules)),
        plan_literal=repr(serialize_plan(plan)),
        rule_version=rule_version_of(rules),
        key_column_literal=repr(key_column),
    )


# the reference's dirty HR fixture (pipeline_generator.py:716-722):
# duplicate id 5, null name, mixed-type age held as string, null salary
_HR_FIXTURE_SCHEMA = "id bigint, name string, age string, salary double, date string"
_HR_FIXTURE_ROWS = [
    (1, "Alice", "25", 50000.0, "2023-01-01"),
    (2, "Bob", "30", 60000.0, "2023-02-01"),
    (3, None, "35", 70000.0, "2023-03-01"),
    (4, "David", "40", 80000.0, "2023-04-01"),
    (5, "Eve", "45", None, "2023-05-01"),
    (5, "Eve", "45", None, "2023-05-01"),
]
# flagship documents shape: duplicate doc_id + one non-increasing
# offset (the same dirt classes, spans-flavored)
_DOCS_FIXTURE_SCHEMA = (
    "doc_id string, spans array<struct"
    "<kind:string,text:string,media_ref:string,offset:int>>"
)
_DOCS_FIXTURE_ROWS = [
    ("d1", [("text", "hello world", None, 0), ("image", None, "media-1", 8)]),
    ("d2", [("text", "more text", None, 0)]),
    ("d3", [("text", "bad offsets", None, 5), ("text", "here", None, 2)]),
    ("d4", [("audio", None, "media-2", 0)]),
    ("d5", [("text", "dup doc", None, 0)]),
    ("d5", [("text", "dup doc", None, 0)]),
]


def _rule_columns(rules: "list[Rule] | None") -> set[str]:
    """Columns a rule set references: declared columns plus free
    identifiers of ``expr`` rules (keywords/functions excluded) —
    tokenized by rules.expr_identifiers, the same literal-stripping
    walk the safety allowlist uses."""
    from . import rules as _R

    cols: set[str] = set()
    for r in rules or []:
        if r.column:
            cols.add(r.column)
        if r.expr:
            for tok in _R.expr_identifiers(r.expr):
                t = tok.lower()
                if t not in _R._KEYWORDS and t not in _R._ALLOWED_FUNCTIONS:
                    cols.add(tok)
    return cols


def emit_tests(
    plan: CorrectionPlan | None = None,
    script_name: str = "advs_pipeline.py",
    test_name: str = "test_advs_pipeline.py",
    rules: "list[Rule] | None" = None,
    fixture_schema: str | None = None,
    fixture_rows: list | None = None,
) -> str:
    """Runnable pytest suite shipped WITH every emitted pipeline
    (round-3 directive #3; reference pipeline_generator.py:696-836).
    Deterministic text; the clean-output assertions are emitted only
    when the pipeline actually carries a correction plan.

    Fixture selection (round-3 review finding — a fixed fixture made
    the suite fail for any other ruleset): an explicit
    ``fixture_schema``/``fixture_rows`` pair wins; otherwise the
    fixture is chosen by the columns the RULES reference — the
    reference's 6-row HR fixture when they fit it, the spans-shaped
    documents fixture for the flagship shape, and a loud ValueError
    (asking for an explicit fixture) for anything else."""
    if (fixture_schema is None) != (fixture_rows is None):
        raise ValueError("pass fixture_schema and fixture_rows together")
    if fixture_schema is None:
        cols = _rule_columns(rules)
        hr_cols = {"id", "name", "age", "salary", "date"}
        doc_cols = {"doc_id", "spans"}
        plan_cols = set()
        if plan is not None:
            plan_cols = (
                set(plan.imputations) | set(plan.caps)
                | set(plan.standardize_columns) | set(plan.casts)
                | set(plan.dedup_keys or [])
            )
        referenced = cols | plan_cols
        if referenced <= hr_cols or not referenced:
            fixture_schema, fixture_rows = _HR_FIXTURE_SCHEMA, _HR_FIXTURE_ROWS
        elif referenced <= doc_cols:
            fixture_schema, fixture_rows = _DOCS_FIXTURE_SCHEMA, _DOCS_FIXTURE_ROWS
        else:
            raise ValueError(
                "emit_tests: rules/plan reference columns "
                f"{sorted(referenced)} that fit neither built-in fixture "
                f"({sorted(hr_cols)} or {sorted(doc_cols)}); pass "
                "fixture_schema/fixture_rows describing a small dirty "
                "sample of YOUR table"
            )
    clean_tests = CLEAN_TESTS_TEMPLATE if plan is not None else ""
    return TEST_TEMPLATE.format(
        script_name=script_name,
        test_name=test_name,
        script_name_lit=repr(script_name),
        clean_tests=clean_tests,
        fixture_rows_lit=repr(fixture_rows),
        fixture_schema_lit=repr(fixture_schema),
    )


def emit_readme(
    rules: list[Rule], plan: CorrectionPlan | None = None
) -> str:
    """Pipeline documentation (reference generate_pipeline_documentation,
    pipeline_generator.py:512-637) — deterministic markdown."""
    lines = [
        "# Emitted validation/correction pipeline",
        "",
        "Rule-set driven Spark pipeline emitted by",
        "`automatic_data_validator_spark.pipeline` — the rules and the",
        "correction plan below are DATA re-loaded by the runner; no",
        "generated logic executes.",
        "",
        "## Run",
        "",
        "```",
        "spark-submit --py-files advs.zip advs_pipeline.py <input_parquet> <output_dir>",
        "```",
        "",
        "Outputs under `<output_dir>`: `verdicts/`, `violations/`,",
        "`metrics/`, `lineage/` (parquet), plus `cleaned/` when a",
        "correction plan is present. Runs are resumable: phase state",
        "lives in `<output_dir>/_checkpoints`.",
        "",
        "## Self-check",
        "",
        "```",
        "python -m pytest test_advs_pipeline.py -x -q",
        "```",
        "",
        f"## Rules (version `{rule_version_of(rules)}`)",
        "",
        "| rule_id | kind | column | expr |",
        "|---|---|---|---|",
    ]
    for r in rules:
        expr = (r.expr or "").replace("|", "\\|")
        lines.append(
            f"| {r.rule_id} | {r.kind} | {r.column or ''} | {expr} |"
        )
    lines += ["", "## Correction plan", ""]
    if plan is None:
        lines.append("None (validation only).")
    else:
        d = plan.describe()
        lines.append("```json")
        lines.append(json.dumps(d, indent=2, sort_keys=True))
        lines.append("```")
    lines.append("")
    return "\n".join(lines)


def emit_manifest(rules: list[Rule], plan: CorrectionPlan | None = None) -> dict[str, Any]:
    """Machine-readable pipeline description (reference emits docs +
    requirements alongside the script, pipeline_generator.py:512-694)."""
    return {
        "engine": "automatic_data_validator_spark",
        "rules": [asdict(r) for r in rules],
        "correction_plan": None if plan is None else plan.describe(),
        "run": "spark-submit --py-files advs.zip advs_pipeline.py <in> <out>",
        "outputs": ["verdicts", "violations", "metrics", "lineage", "cleaned"],
    }


def create_package(
    rules: list[Rule],
    plan: CorrectionPlan | None = None,
    out_dir: str = ".",
    key_column: str | None = None,
) -> dict[str, str]:
    """Write the complete pipeline package (reference
    create_pipeline_package, pipeline_generator.py:838-918) and return
    {artifact_name: path}:

      advs_pipeline.py        the spark-submit runner
      test_advs_pipeline.py   the emitted self-check suite
      README.md               documentation
      requirements.txt        runtime deps
      manifest.json           machine-readable description
      advs.zip                THIS engine package, zipped for
                              ``spark-submit --py-files`` — the package
                              is fully self-contained on a bare cluster
    """
    import zipfile

    os.makedirs(out_dir, exist_ok=True)
    paths: dict[str, str] = {}

    def write(name: str, text: str) -> None:
        p = os.path.join(out_dir, name)
        with open(p, "w") as f:
            f.write(text)
        paths[name] = p

    write("advs_pipeline.py", emit_pipeline(rules, plan, key_column=key_column))
    write("test_advs_pipeline.py", emit_tests(plan, rules=rules))
    write("README.md", emit_readme(rules, plan))
    write("requirements.txt", "pyspark>=4.0\nnumpy>=1.24\npandas>=2.0\npyarrow>=12\n")
    write(
        "manifest.json",
        json.dumps(emit_manifest(rules, plan), indent=2, sort_keys=True),
    )

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(out_dir, "advs.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    paths["advs.zip"] = zip_path
    return paths
