"""End-to-end validation slice: synth -> rules -> verdicts/violations,
checked against a pandas oracle computed with the reference's
semantics (SURVEY.md §5.2)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from automatic_data_validator_spark import rules as R
from automatic_data_validator_spark.validate import run_validation, canonical_violations


def _pandas_oracle(docs_pdf: pd.DataFrame) -> dict[str, set]:
    """Oracle violation doc_id sets computed row-at-a-time in pandas."""
    bad_order: set[str] = set()
    bad_shape: set[str] = set()
    for _, row in docs_pdf.iterrows():
        prev = -1
        ok = True
        for s in row["spans"]:
            if s["offset"] <= prev:
                ok = False
            prev = s["offset"]
            is_text = s["kind"] == "text"
            shape_ok = (
                (is_text and s["text"] is not None and s["media_ref"] is None)
                or (not is_text and s["media_ref"] is not None and s["text"] is None)
            )
            if not shape_ok:
                bad_shape.add(row["doc_id"])
        if not ok:
            bad_order.add(row["doc_id"])
    dup = set(docs_pdf["doc_id"][docs_pdf["doc_id"].duplicated(keep=False)])
    return {"span_order": bad_order, "span_shape": bad_shape, "unique_doc_id": dup}


def test_e2e_validation_matches_pandas_oracle(spark, docs, catalog):
    result = run_validation(spark, docs, catalog=catalog, with_profile=False)
    viol = result.violations.select("doc_id", "rule_id").distinct().collect()
    got: dict[str, set] = {}
    for r in viol:
        got.setdefault(r["rule_id"], set()).add(r["doc_id"])

    oracle = _pandas_oracle(docs.toPandas())
    assert got.get("span_order", set()) == oracle["span_order"]
    assert got.get("span_shape", set()) == oracle["span_shape"]
    assert got.get("unique_doc_id", set()) == oracle["unique_doc_id"]
    # synth guarantees violations exist at these rates
    assert oracle["span_order"] and oracle["unique_doc_id"]

    # referential: every violation detail must be a dangling ref
    dang = result.violations.filter(F.col("rule_id") == "referential_media_ref")
    cat_refs = {r["media_ref"] for r in catalog.select("media_ref").collect()}
    details = [r["detail"] for r in dang.collect()]
    assert details and all(d not in cat_refs for d in details)


def test_verdict_counts_consistent(spark, docs, catalog):
    result = run_validation(spark, docs, catalog=catalog, with_profile=False)
    v = result.verdicts.groupBy("rule_id").agg(
        F.sum("violation_count").alias("n"), F.sum("row_count").alias("rows")
    )
    totals = {r["rule_id"]: (r["n"], r["rows"]) for r in v.collect()}
    n_docs = docs.count()
    for rid, (n, rows) in totals.items():
        assert rows == n_docs, rid
    # verdict violation totals equal violation rows per rule (one row
    # per violating row occurrence)
    viol = result.violations.groupBy("rule_id").count().collect()
    for r in viol:
        if r["rule_id"] == "referential_media_ref":
            continue  # verdict counts distinct docs; violations one per (doc, ref)
        assert totals[r["rule_id"]][0] == r["count"], r["rule_id"]


def test_not_null_and_expr_rules(spark, docs):
    rs = [
        R.Rule("not_null_doc_id", "not_null", column="doc_id"),
        R.Rule("spans_nonempty", "expr", expr="size(spans) > 0"),
    ]
    v, x = R.evaluate_row_rules(docs, rs)
    assert x.count() == 0  # synth never emits null ids / empty spans
    assert v.filter(~F.col("pass")).count() == 0


def test_canonical_violations_deterministic(spark, docs, catalog):
    r1 = run_validation(spark, docs, catalog=catalog, with_profile=False)
    r2 = run_validation(spark, docs.repartition(7), catalog=catalog, with_profile=False)
    a = canonical_violations(r1.violations).select("doc_id", "rule_id", "detail").collect()
    b = canonical_violations(r2.violations).select("doc_id", "rule_id", "detail").collect()
    assert a == b  # partition-layout independent


def test_unknown_partition_violations_fail_loudly(spark, docs):
    """Violations attributed to a partition missing from a (stale)
    partition_totals map must surface as failing verdicts instead of
    being dropped (ADVICE r1: silent pass with violations present)."""
    from automatic_data_validator_spark.dedup import uniqueness_check

    verdicts, _v = uniqueness_check(docs, "doc_id", partition_totals={99999: 1})
    rows = verdicts.collect()
    unknown = [r for r in rows if r["partition_id"] != 99999]
    assert unknown and all(not r["pass"] and r["row_count"] == 0 for r in unknown)
    assert sum(r["violation_count"] for r in unknown) > 0


def test_verdict_spill_mode_matches_default(spark, docs, catalog):
    """With verdict_spill_threshold forced low, verdicts stay
    distributed (no driver collect) yet must equal the default path;
    lineage degrades to per-rule aggregate rows (null partition_id)."""
    base = run_validation(spark, docs, catalog=catalog, with_profile=False)
    spilled = run_validation(spark, docs, catalog=catalog, with_profile=False,
                             verdict_spill_threshold=1)
    a = sorted(map(tuple, base.verdicts.collect()))
    b = sorted(map(tuple, spilled.verdicts.collect()))
    assert a == b
    va = sorted((r["doc_id"], r["rule_id"]) for r in base.violations.collect())
    vb = sorted((r["doc_id"], r["rule_id"]) for r in spilled.violations.collect())
    assert va == vb
    lin = spilled.lineage.collect()
    assert all(r["partition_id"] is None for r in lin)
    # per-rule aggregates must match the verdict sums
    agg = {(r["phase"], r["op"]): r["violation_count"] for r in lin}
    assert sum(v for (_p, op), v in agg.items() if op == "span_order") == \
        sum(r["violation_count"] for r in base.verdicts.collect()
            if r["rule_id"] == "span_order")
    assert base.passed() == spilled.passed()


def test_spark_submit_job_entrypoint(spark, tmp_path):
    """jobs/validate_job.py is the spark-submit entry: runs end to end,
    writes all four outputs, and its exit code is the pass/fail signal
    (synthetic input has injected violations -> nonzero)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import validate_job

    base = str(tmp_path / "job")
    rc = validate_job.main([
        "--documents", f"{base}/docs", "--catalog", f"{base}/cat",
        "--output", f"{base}/out", "--synthesize", "5000",
        "--quarantine", f"{base}/q",
    ])
    assert rc == 1  # violations injected by synth => FAILED is correct
    for name in ("verdicts", "violations", "metrics", "lineage"):
        assert spark.read.parquet(f"{base}/out/{name}").count() > 0
    # dead-letter split: clean + quarantined partition the corpus
    n_clean = spark.read.parquet(f"{base}/q/clean").count()
    quar = spark.read.parquet(f"{base}/q/quarantined")
    assert n_clean + quar.count() == 5000
    assert quar.filter("size(failed_rules) = 0").count() == 0


def test_job_grouped_drift_roundtrip(spark, tmp_path):
    """CLI cohort drift: --save-drift-baseline + --drift-group-by
    writes a grouped baseline; a later run with --drift-baseline +
    --drift-group-by on a table whose cohorts swapped distributions
    exits nonzero with per-cohort drift verdicts."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import validate_job

    base = str(tmp_path / "gjob")

    def tbl(swap: bool):
        lo = F.rand(3) * 10.0
        hi = F.rand(5) * 10.0 + 500.0
        a, b = (hi, lo) if swap else (lo, hi)
        return spark.range(0, 4000, 1, 4).select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            F.when(F.col("id") % 2 == 0, F.lit("s1"))
            .otherwise(F.lit("s2")).alias("source"),
            F.when(F.col("id") % 2 == 0, a).otherwise(b).alias("v"),
        )

    tbl(False).write.parquet(f"{base}/docs0")
    tbl(True).write.parquet(f"{base}/docs1")
    rc0 = validate_job.main([
        "--documents", f"{base}/docs0", "--output", f"{base}/out0",
        "--no-profile", "--save-drift-baseline", f"{base}/gbase",
        "--drift-group-by", "source",
    ])
    assert rc0 == 0
    rc1 = validate_job.main([
        "--documents", f"{base}/docs1", "--output", f"{base}/out1",
        "--no-profile", "--drift-baseline", f"{base}/gbase",
        "--drift-group-by", "source",
    ])
    assert rc1 == 1
    bad = {
        r["rule_id"]
        for r in spark.read.parquet(f"{base}/out1/verdicts")
        .filter("NOT `pass`").collect()
    }
    assert {"drift_v[s1]", "drift_v[s2]"} <= bad


def test_referential_rule_honored_and_loud_without_catalog(spark, docs, catalog):
    from automatic_data_validator_spark import rules as R

    with pytest.raises(ValueError, match="catalog"):
        run_validation(
            spark, docs, catalog=None, with_profile=False, check_uniqueness=False,
            rule_set=[R.Rule("my_refs", "referential", column="spans")],
        )
    res = run_validation(
        spark, docs, catalog=catalog, with_profile=False, check_uniqueness=False,
        rule_set=[
            R.Rule("nn", "not_null", column="doc_id"),
            R.Rule("my_refs", "referential", column="spans"),
            # a dotted id must not leak into a column name
            R.Rule("refs.v2", "referential", column="spans"),
        ],
    )
    rules_seen = {r["rule_id"] for r in res.verdicts.select("rule_id").distinct().collect()}
    assert {"my_refs", "refs.v2"} <= rules_seen
    counts = {
        rid: res.violations.filter(F.col("rule_id") == rid).count()
        for rid in ("my_refs", "refs.v2")
    }
    assert counts["my_refs"] > 0 and counts["refs.v2"] == counts["my_refs"]


def test_empty_rule_set_returns_empty_result(spark, docs):
    res = run_validation(spark, docs, rule_set=[], check_uniqueness=False,
                         with_profile=False)
    assert res.verdicts.count() == 0 and res.violations.count() == 0
    assert res.passed()


def test_profile_phase_resumes_from_checkpoint(spark, docs, tmp_path):
    ck = str(tmp_path / "ckprof")
    r1 = run_validation(spark, docs, checkpoint_dir=ck, with_profile=True)
    m1 = sorted(map(tuple, r1.metrics.collect()))
    r2 = run_validation(spark, docs, checkpoint_dir=ck, with_profile=True)
    assert sorted(map(tuple, r2.metrics.collect())) == m1


def test_spill_mode_with_numeric_quantiles(spark):
    """Distributed verdicts (spill mode) compose with the pruned
    quantile pass a numeric column needs: metrics must carry quantiles
    equal to the default path's, and verdicts must be identical."""
    import pyspark.sql.functions as F2

    from automatic_data_validator_spark import rules as R

    df = spark.range(0, 20_000, 1, 8).select(
        F2.concat(F2.lit("d"), F2.col("id")).alias("doc_id"),
        (F2.col("id") % 211).cast("double").alias("val"),
    )
    rs = [R.Rule("nn", "not_null", column="doc_id")]
    base = run_validation(
        spark, df, rule_set=rs, check_uniqueness=False, with_profile=True
    )
    spilled = run_validation(
        spark, df, rule_set=rs, check_uniqueness=False, with_profile=True,
        verdict_spill_threshold=1,
    )
    bm = {(r["column"], r["metric"]): r["value"] for r in base.metrics.collect()}
    sm = {(r["column"], r["metric"]): r["value"] for r in spilled.metrics.collect()}
    assert set(bm) == set(sm)
    for m in ("q1", "median", "q3", "mean", "std", "non_null_count"):
        want, got = bm[("val", m)], sm[("val", m)]
        assert abs(got - want) <= 1e-9 * max(1.0, abs(want)), (m, want, got)
    assert sorted(map(tuple, base.verdicts.collect())) == sorted(
        map(tuple, spilled.verdicts.collect())
    )


def test_dedup_job_entrypoint(spark, tmp_path):
    """jobs/dedup_job.py runs the composed pipeline end to end and
    writes all four outputs (kept corpus, drop list, verified pairs,
    oversize-bucket audit)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import dedup_job

    out = str(tmp_path / "dedup_out")
    rc = dedup_job.main(
        ["--documents", "/root/testdata/sf0.001/documents.parquet",
         "--output", out, "--tau", "0.5"]
    )
    assert rc == 0
    kept = spark.read.parquet(f"{out}/kept")
    drop = spark.read.parquet(f"{out}/drop_list")
    pairs = spark.read.parquet(f"{out}/pairs")
    n_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert kept.count() + drop.count() == n_docs
    assert set(pairs.columns) == {"id_a", "id_b", "jaccard"}
    # drop list ids must not survive in kept
    assert kept.join(drop.withColumnRenamed("doc_id", "k"),
                     kept["doc_id"] == F.col("k")).count() == 0


def test_run_validation_drift_phase(spark, tmp_path):
    """North_rule's fourth family INSIDE the engine run (round-4): a
    drift_baseline adds the drift phase — table-level verdicts at
    partition_id -1, one violation row per drifted column, lineage
    entry, and checkpoint/resume like every other phase. Works with an
    in-memory sketch dict and a saved snapshot path."""
    import numpy as np

    from automatic_data_validator_spark import rules as R
    from automatic_data_validator_spark.drift import TDigest, save_baseline

    rng = np.random.RandomState(21)
    df = spark.range(0, 8000, 1, 4).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") % 100).cast("double").alias("stable"),
        (F.col("id") % 100 + 500).cast("double").alias("shifted"),
    )
    baseline = {
        "stable": TDigest.from_values(rng.randint(0, 100, 20_000).astype(float)),
        "shifted": TDigest.from_values(rng.randint(0, 100, 20_000).astype(float)),
    }
    rs = [R.Rule("nn", "not_null", column="doc_id")]
    res = run_validation(
        spark, df, rule_set=rs, check_uniqueness=False, with_profile=False,
        drift_baseline=baseline,
    )
    v = {r["rule_id"]: r for r in res.verdicts.collect() if r["rule_id"].startswith("drift_")}
    assert v["drift_stable"]["pass"] is True
    assert v["drift_shifted"]["pass"] is False
    assert v["drift_shifted"]["partition_id"] == -1
    assert v["drift_shifted"]["row_count"] == 8000
    viol = [r for r in res.violations.collect() if r["rule_id"].startswith("drift_")]
    assert len(viol) == 1 and viol[0]["doc_id"] == "shifted"
    assert "ks=" in viol[0]["detail"] and "reason=stats" in viol[0]["detail"]
    phases = {r["phase"] for r in res.lineage.collect()}
    assert "drift" in phases
    assert res.passed() is False

    # path-based baseline + checkpoint resume skips the phase
    bpath = str(tmp_path / "baseline")
    save_baseline(baseline, spark, bpath)
    ck = str(tmp_path / "ckpt")
    res2 = run_validation(
        spark, df, rule_set=rs, check_uniqueness=False, with_profile=False,
        drift_baseline=bpath, checkpoint_dir=ck, snapshot_id="s1",
    )
    assert {r["rule_id"] for r in res2.verdicts.collect() if not r["pass"]} == {"drift_shifted"}
    import json as _json
    import os as _os

    state = _json.load(open(_os.path.join(ck, "_state.json")))
    assert "drift" in state["completed"]
    res3 = run_validation(
        spark, df, rule_set=rs, check_uniqueness=False, with_profile=False,
        drift_baseline=bpath, checkpoint_dir=ck, snapshot_id="s1",
    )
    assert {r["rule_id"] for r in res3.verdicts.collect() if not r["pass"]} == {"drift_shifted"}


def test_run_validation_grouped_drift_catches_cohort_swap(spark, tmp_path):
    """drift_group_by (r5, round-4 VERDICT directive #5): per-(group,
    column) verdicts catch a drifted COHORT the table-level mixture
    hides. Construction: two equal-size cohorts swap value ranges
    between baseline and current — the table-level distribution is
    identical (table-level drift passes), but every per-group KS is ~1.
    Also pins the degenerate contract (a cohort missing from current
    fires missing_in_current for each column) and the load-format
    guard (load_baseline refuses a grouped file)."""
    import pytest as _pytest

    from automatic_data_validator_spark import rules as R
    from automatic_data_validator_spark.drift import (
        load_baseline,
        save_grouped_baseline,
        sketch_columns,
        sketch_columns_by_group,
    )

    def cohorts(swap: bool):
        lo = F.rand(7) * 100.0
        hi = F.rand(11) * 100.0 + 1000.0
        a_val, b_val = (hi, lo) if swap else (lo, hi)
        return spark.range(0, 8000, 1, 4).select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            F.when(F.col("id") % 2 == 0, F.lit("cohort_a"))
            .otherwise(F.lit("cohort_b")).alias("source"),
            F.when(F.col("id") % 2 == 0, a_val).otherwise(b_val).alias("v"),
        )

    base_df, cur_df = cohorts(False), cohorts(True)
    grouped_base = sketch_columns_by_group(base_df, "source", ["v"])
    assert set(grouped_base) == {"cohort_a", "cohort_b"}
    rs = [R.Rule("nn", "not_null", column="doc_id")]

    # table-level check on the same swap: mixture unchanged -> passes
    res_table = run_validation(
        spark, cur_df, rule_set=rs, check_uniqueness=False,
        with_profile=False, drift_baseline=sketch_columns(base_df, ["v"]),
    )
    assert all(
        r["pass"] for r in res_table.verdicts.collect()
        if r["rule_id"].startswith("drift_")
    )

    # grouped check: both cohorts drifted, attributed individually
    bpath = str(tmp_path / "grouped_baseline")
    save_grouped_baseline(grouped_base, spark, bpath)
    with _pytest.raises(ValueError, match="GROUPED baseline"):
        load_baseline(spark, bpath)
    res = run_validation(
        spark, cur_df, rule_set=rs, check_uniqueness=False,
        with_profile=False, drift_baseline=bpath, drift_group_by="source",
    )
    v = {
        r["rule_id"]: r for r in res.verdicts.collect()
        if r["rule_id"].startswith("drift_")
    }
    assert set(v) == {"drift_v[cohort_a]", "drift_v[cohort_b]"}
    assert not v["drift_v[cohort_a]"]["pass"]
    assert not v["drift_v[cohort_b]"]["pass"]
    assert v["drift_v[cohort_a]"]["partition_id"] == -1
    viol = {
        r["doc_id"]: r["detail"] for r in res.violations.collect()
        if r["rule_id"].startswith("drift_")
    }
    assert "reason=stats" in viol["v[cohort_a]"]
    assert "group=cohort_b" in viol["v[cohort_b]"]

    # vanished cohort: current holds only cohort_a -> cohort_b fires
    # missing_in_current (a silent skip would mask total cohort loss)
    only_a = cur_df.filter(F.col("source") == "cohort_a")
    res_missing = run_validation(
        spark, only_a, rule_set=rs, check_uniqueness=False,
        with_profile=False, drift_baseline=bpath, drift_group_by="source",
    )
    missing = [
        r for r in res_missing.violations.collect()
        if r["rule_id"] == "drift_v[cohort_b]"
    ]
    assert len(missing) == 1
    assert "reason=missing_in_current" in missing[0]["detail"]


def test_document_signals_drift_wiring(spark, docs):
    """The interleaved documents shape has no numeric columns;
    drift.document_signals derives the monitored quantities and
    run_validation(drift_signals=...) sketches THEM. Baseline built
    from the same corpus -> all drift rules pass."""
    from automatic_data_validator_spark.drift import (
        document_signals,
        sketch_columns,
    )

    sig = document_signals(docs)
    assert set(sig.columns) == {"n_spans", "text_chars", "n_media_refs"}
    sk = sketch_columns(sig, sig.columns)
    assert sk["n_spans"].total_weight == docs.count()
    res = run_validation(
        spark, docs, rule_set=[], check_uniqueness=False, with_profile=False,
        drift_baseline=sk, drift_signals=document_signals,
    )
    dr = [r for r in res.verdicts.collect() if r["rule_id"].startswith("drift_")]
    assert len(dr) == 3 and all(r["pass"] for r in dr)
    assert res.passed() is True


def test_document_signals_null_spans_count_zero(spark):
    """A NULL spans array contributes 0 (not size()'s non-ANSI -1) to
    every derived signal — a corpus with NULL-spans rows must not drag
    the monitored distribution negative (r5 ADVICE fix)."""
    from automatic_data_validator_spark.drift import document_signals
    from automatic_data_validator_spark.synth import make_documents

    from pyspark.sql import functions as F

    df = make_documents(spark, 20, n_media=5, seed=7, num_partitions=2)
    victim = df.agg(F.min("doc_id")).collect()[0][0]
    nulled = df.select(
        "doc_id",
        F.when(F.col("doc_id") == victim, F.lit(None))
        .otherwise(F.col("spans")).alias("spans"),
    )
    rows = document_signals(nulled).collect()
    assert len(rows) == 20
    mins = {
        c: min(r[c] for r in rows)
        for c in ("n_spans", "text_chars", "n_media_refs")
    }
    assert all(v == 0.0 for v in mins.values()), mins
    # exactly one row (the nulled doc) is all-zero
    zero_rows = [r for r in rows if r["n_spans"] == 0.0]
    assert len(zero_rows) == 1
    assert zero_rows[0]["text_chars"] == 0.0
    assert zero_rows[0]["n_media_refs"] == 0.0


def test_drift_phase_disjoint_baseline_fails_loudly(spark, docs):
    """A baseline whose columns don't intersect the target must raise,
    not emit zero verdicts (r5 ADVICE fix: misconfigured monitoring
    must be distinguishable from passing monitoring)."""
    import numpy as np

    from automatic_data_validator_spark.drift import TDigest

    bogus = {"no_such_column": TDigest.from_values(np.arange(100.0))}
    with pytest.raises(Exception) as ei:
        run_validation(
            spark, docs, rule_set=[], check_uniqueness=False,
            with_profile=False, drift_baseline=bogus,
        )
    assert "do not intersect" in str(ei.value)


def test_split_valid_invalid_quarantine(spark, docs, catalog):
    """Dead-letter split: every doc with a row-addressable violation
    lands in `invalid` with its failed rule ids; `valid` is the clean
    remainder; table-level (partition_id -1) rows never quarantine."""
    from automatic_data_validator_spark.validate import split_valid_invalid

    res = run_validation(spark, docs, catalog=catalog, with_profile=False)
    valid, invalid = split_valid_invalid(docs, res.violations)
    n = docs.count()
    assert valid.count() + invalid.count() == n

    bad_keys = {
        r["doc_id"]
        for r in res.violations.filter("partition_id >= 0")
        .select("doc_id").distinct().collect()
    }
    assert {
        r["doc_id"] for r in invalid.select("doc_id").distinct().collect()
    } == bad_keys
    # failed_rules is per-doc, sorted, and consistent with the rows
    span_docs = {
        r["doc_id"]
        for r in res.violations.filter("rule_id = 'span_order'")
        .select("doc_id").collect()
    }
    tagged = {
        r["doc_id"]
        for r in invalid.filter(
            F.array_contains("failed_rules", "span_order")
        ).select("doc_id").collect()
    }
    assert span_docs == tagged and span_docs
    # valid docs carry no violations at all
    assert valid.join(
        res.violations.filter("partition_id >= 0").select("doc_id").distinct(),
        "doc_id",
    ).count() == 0


@pytest.mark.parametrize("spill_threshold", [100_000, 0], ids=["default", "spill"])
def test_rerun_over_rewritten_path_sees_new_rows(spark, tmp_path, spill_threshold):
    """A run over a parquet path, the path rewritten in place outside
    Spark, and a second run in the same session on a fresh read: the
    second run must report the NEW data. A result frame left persisted
    by the first run would match the second run's plan in the session's
    cache manager and return the old duplicates and dangling refs; so
    no run may leave a cache entry behind (spill mode included)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])

    def write(ids, ref):
        spans = [[{"kind": "image", "text": None, "media_ref": ref, "offset": 0}]
                 for _ in ids]
        pq.write_table(pa.table({"doc_id": ids, "spans": spans}, schema=schema),
                       str(tmp_path / "docs" / "part-0.parquet"))

    (tmp_path / "docs").mkdir()
    (tmp_path / "cat").mkdir()
    pq.write_table(pa.table({"media_ref": ["m1"]}),
                   str(tmp_path / "cat" / "part-0.parquet"))
    cache = spark._jsparkSession.sharedState().cacheManager()

    def run():
        before = cache.numCachedEntries()
        res = run_validation(
            spark, spark.read.parquet(str(tmp_path / "docs")),
            catalog=spark.read.parquet(str(tmp_path / "cat")),
            verdict_spill_threshold=spill_threshold,
        )
        rows = res.violations.collect()
        assert cache.numCachedEntries() == before
        return sorted((r["rule_id"], r["doc_id"]) for r in rows)

    write(["a", "a", "b", "c"], "m9")
    assert run() == [
        ("referential_media_ref", d) for d in ("a", "a", "b", "c")
    ] + [("unique_doc_id", "a")] * 2
    write(["x", "y", "z", "w"], "m1")
    assert run() == []
