"""Incremental (snapshot-delta) validation: the merged state after N
increments must equal one full run_validation over the whole corpus —
violations as a (doc_id, rule_id) multiset, per-rule totals, and
profile metrics — while each increment reads ONLY the appended files."""

from __future__ import annotations

import math
import os

import pytest
from fixtures import grid_sketch
from pyspark.sql import functions as F

from automatic_data_validator_spark.incremental import validate_incremental
from automatic_data_validator_spark.synth import make_documents, make_media_catalog
from automatic_data_validator_spark.validate import run_validation


def _viol_multiset(df):
    return sorted(
        (r["doc_id"], r["rule_id"]) for r in df.select("doc_id", "rule_id").collect()
    )


def _rule_totals(verdicts):
    return {
        r["rule_id"]: (int(r["rc"]), int(r["vc"]))
        for r in verdicts.groupBy("rule_id")
        .agg(F.sum("row_count").alias("rc"), F.sum("violation_count").alias("vc"))
        .collect()
    }


def test_incremental_equals_full(spark, tmp_path):
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    cat = make_media_catalog(spark, 200, seed=42)

    b1 = make_documents(spark, 4000, n_media=200, seed=42, num_partitions=3)
    b1.write.mode("append").parquet(corpus)
    r1 = validate_incremental(spark, corpus, state, catalog=cat)
    assert r1.increment == 0 and r1.n_delta_files >= 1
    assert r1.delta_rows == 4000

    # batch 2 re-uses the doc-%012d id space (ids 0..999 collide with
    # batch 1) plus its own in-batch dups/hot keys — the cross-increment
    # case the key index exists for
    b2 = make_documents(spark, 1000, n_media=200, seed=43, num_partitions=2)
    b2.write.mode("append").parquet(corpus)
    r2 = validate_incremental(spark, corpus, state, catalog=cat)
    assert r2.increment == 1
    assert r2.delta_rows == 1000  # ONLY the delta was scanned

    full = run_validation(
        spark, spark.read.parquet(corpus), catalog=cat, with_profile=True
    )
    assert _viol_multiset(r2.violations) == _viol_multiset(full.violations)

    inc_tot, full_tot = _rule_totals(r2.verdicts), _rule_totals(full.verdicts)
    assert set(inc_tot) == set(full_tot)
    for rid in full_tot:
        # violation totals match exactly; row totals too (the
        # uniqueness promotion row carries row_count 0 by design)
        assert inc_tot[rid][1] == full_tot[rid][1], rid
        assert inc_tot[rid][0] == full_tot[rid][0], rid

    # metrics: merged partials == single full pass (moments to fp
    # round-off, HLL identically — register union is order-insensitive)
    inc_m = {
        (r["column"], r["metric"]): r["value"] for r in r2.metrics.collect()
    }
    full_m = {
        (r["column"], r["metric"]): r["value"] for r in full.metrics.collect()
    }
    assert set(inc_m) == set(full_m)
    for k, v in full_m.items():
        if v is None or (isinstance(v, float) and math.isnan(v)):
            assert inc_m[k] is None or math.isnan(inc_m[k]), k
        else:
            assert inc_m[k] == pytest.approx(v, rel=1e-9, abs=1e-9), k


def test_incremental_noop_and_append_only_contract(spark, tmp_path):
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    make_documents(spark, 500, n_media=50, seed=7, num_partitions=2).write.mode(
        "append"
    ).parquet(corpus)
    r1 = validate_incremental(spark, corpus, state)
    # no new files: stored state returned, nothing scanned
    r2 = validate_incremental(spark, corpus, state)
    assert r2.increment == r1.increment and r2.n_delta_files == 0
    assert _rule_totals(r2.verdicts) == _rule_totals(r1.verdicts)

    # a changed rule_version cannot merge with old increments
    with pytest.raises(ValueError, match="rule_version"):
        validate_incremental(spark, corpus, state, rule_version="v2")

    # removing a validated file breaks the append-only contract
    victim = sorted(
        f for f in os.listdir(corpus) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(corpus, victim))
    with pytest.raises(ValueError, match="append-only"):
        validate_incremental(spark, corpus, state)


def test_incremental_schema_drift_raises(spark, tmp_path):
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    make_documents(spark, 200, n_media=20, seed=7, num_partitions=1).write.mode(
        "append"
    ).parquet(corpus)
    validate_incremental(spark, corpus, state)
    # a new file with a different schema cannot merge
    make_documents(spark, 50, n_media=20, seed=8, num_partitions=1).withColumn(
        "extra", F.lit(1)
    ).write.mode("append").parquet(corpus)
    with pytest.raises(ValueError, match="schema drift"):
        validate_incremental(spark, corpus, state)


def test_incremental_uniqueness_promotion(spark, tmp_path):
    """A key unique in increment 0 and duplicated by increment 1 must
    surface BOTH occurrences — the old one retroactively ('promoted'),
    without re-reading increment 0's data files."""
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    r1 = validate_incremental(spark, corpus, state, rule_set=[])
    assert _viol_multiset(r1.violations) == []
    assert r1.passed()

    spark.createDataFrame(
        [("c", 4), ("d", 5), ("d", 6)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    r2 = validate_incremental(spark, corpus, state, rule_set=[])
    assert _viol_multiset(r2.violations) == [
        ("c", "unique_doc_id"), ("c", "unique_doc_id"),
        ("d", "unique_doc_id"), ("d", "unique_doc_id"),
    ]
    promoted = r2.violations.filter(F.col("detail").contains("promoted"))
    assert [r["doc_id"] for r in promoted.collect()] == ["c"]
    assert not r2.passed()

    # and the merged multiset equals a full revalidation
    full = run_validation(
        spark, spark.read.parquet(corpus), rule_set=[], with_profile=False
    )
    assert _viol_multiset(r2.violations) == _viol_multiset(full.violations)

    # increment 2: yet another 'c' — old occurrences were already
    # reported (old total 2), so only the new one is emitted; the
    # multiset still matches full revalidation
    spark.createDataFrame(
        [("c", 7), ("e", 8)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    r3 = validate_incremental(spark, corpus, state, rule_set=[])
    full3 = run_validation(
        spark, spark.read.parquet(corpus), rule_set=[], with_profile=False
    )
    assert _viol_multiset(r3.violations) == _viol_multiset(full3.violations)
    assert _rule_totals(r3.verdicts)["unique_doc_id"][1] == \
        _rule_totals(full3.verdicts)["unique_doc_id"][1]


def test_incremental_drift_merged_sketches(spark, tmp_path):
    """Drift in incremental mode: only the delta is sketched, the
    corpus digest is the merge of per-increment digests, and the
    drifted flags agree with a full run_validation drift phase over
    the whole corpus."""
    from automatic_data_validator_spark.drift import (
        document_signals,
        sketch_columns,
    )

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    b1 = make_documents(spark, 4000, n_media=200, seed=42, num_partitions=2)
    b1.write.mode("append").parquet(corpus)
    sig = document_signals(b1)
    baseline = sketch_columns(sig, sig.columns)

    r1 = validate_incremental(
        spark, corpus, state, rule_set=[], with_profile=False,
        drift_baseline=baseline, drift_signals=document_signals,
    )
    d1 = {r["rule_id"]: r["pass"] for r in r1.verdicts.collect()
          if r["rule_id"].startswith("drift_")}
    assert len(d1) == 3 and all(d1.values())

    # in-distribution append: still no drift
    make_documents(spark, 1000, n_media=200, seed=43, num_partitions=1).write.mode(
        "append"
    ).parquet(corpus)
    r2 = validate_incremental(
        spark, corpus, state, rule_set=[], with_profile=False,
        drift_baseline=baseline, drift_signals=document_signals,
    )
    d2 = {r["rule_id"]: r["pass"] for r in r2.verdicts.collect()
          if r["rule_id"].startswith("drift_") and r["increment"] == 1}
    assert all(d2.values()), d2

    # shifted append (~27% of the corpus collapses to single-span
    # docs): the MERGED corpus digest must flag n_spans drift
    shifted = make_documents(
        spark, 2000, n_media=200, seed=44, num_partitions=1
    ).select("doc_id", F.slice("spans", 1, 1).alias("spans"))
    shifted.write.mode("append").parquet(corpus)
    r3 = validate_incremental(
        spark, corpus, state, rule_set=[], with_profile=False,
        drift_baseline=baseline, drift_signals=document_signals,
    )
    d3 = {r["rule_id"]: r["pass"] for r in r3.verdicts.collect()
          if r["rule_id"].startswith("drift_") and r["increment"] == 2}
    assert d3["drift_n_spans"] is False

    full = run_validation(
        spark, spark.read.parquet(corpus), rule_set=[],
        check_uniqueness=False, with_profile=False,
        drift_baseline=baseline, drift_signals=document_signals,
    )
    dfull = {r["rule_id"]: r["pass"] for r in full.verdicts.collect()
             if r["rule_id"].startswith("drift_")}
    assert d3 == dfull


def test_incremental_random_sequences_equal_full(spark, tmp_path):
    """Seeded randomized append sequences over a small key universe —
    every increment's merged violations must equal a full revalidation
    regardless of the dup pattern (old_cnt 0/1/2+, multi-copy deltas,
    keys recurring across three increments). Stresses the promotion
    invariant beyond the hand-built cases."""
    import random

    rng = random.Random(20260817)
    for trial in range(3):
        corpus = str(tmp_path / f"docs{trial}")
        state = str(tmp_path / f"state{trial}")
        universe = [f"k{i:03d}" for i in range(30)]
        for _ in range(3):
            n = rng.randint(1, 25)
            rows = [(rng.choice(universe), rng.randint(0, 9)) for _ in range(n)]
            spark.createDataFrame(
                rows, "doc_id string, value int"
            ).coalesce(1).write.mode("append").parquet(corpus)
            r = validate_incremental(
                spark, corpus, state, rule_set=[], with_profile=False
            )
            full = run_validation(
                spark, spark.read.parquet(corpus), rule_set=[],
                with_profile=False,
            )
            assert _viol_multiset(r.violations) == _viol_multiset(
                full.violations
            ), (trial, rows)
            assert (
                _rule_totals(r.verdicts)["unique_doc_id"][1]
                == _rule_totals(full.verdicts)["unique_doc_id"][1]
            ), (trial, rows)


def test_rebase_after_compaction(spark, tmp_path):
    """Compaction rewrites files but preserves the row multiset; after
    rebase_after_compaction the state accepts the new inventory and
    the NEXT increment still merges correctly (equals full
    revalidation). A rewrite that drops a row must be refused."""
    import shutil

    from automatic_data_validator_spark.incremental import (
        rebase_after_compaction,
    )

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    cat = make_media_catalog(spark, 100, seed=42)
    make_documents(spark, 3000, n_media=100, seed=42, num_partitions=3).write.mode(
        "append"
    ).parquet(corpus)
    validate_incremental(spark, corpus, state, catalog=cat)

    # simulate Iceberg rewrite_data_files: same rows, one file
    compacted = str(tmp_path / "compacted")
    spark.read.parquet(corpus).coalesce(1).write.parquet(compacted)
    shutil.rmtree(corpus)
    shutil.move(compacted, corpus)
    # without rebase: append-only contract fires
    with pytest.raises(ValueError, match="append-only"):
        validate_incremental(spark, corpus, state, catalog=cat)
    n = rebase_after_compaction(spark, corpus, state)
    assert n >= 1

    # post-rebase increment behaves exactly like pre-compaction
    make_documents(spark, 800, n_media=100, seed=5, num_partitions=1).write.mode(
        "append"
    ).parquet(corpus)
    r2 = validate_incremental(spark, corpus, state, catalog=cat)
    assert r2.delta_rows == 800
    full = run_validation(spark, spark.read.parquet(corpus), catalog=cat)
    assert _viol_multiset(r2.violations) == _viol_multiset(full.violations)

    # corrupted 'compaction' (drops a row) must be refused
    state2 = str(tmp_path / "state2")
    corpus2 = str(tmp_path / "docs2")
    make_documents(spark, 500, n_media=100, seed=7, num_partitions=1).write.mode(
        "append"
    ).parquet(corpus2)
    validate_incremental(spark, corpus2, state2)
    bad = str(tmp_path / "bad")
    df2 = spark.read.parquet(corpus2)
    victim = df2.agg(F.min("doc_id")).collect()[0][0]
    df2.filter(F.col("doc_id") != victim).coalesce(1).write.parquet(bad)
    shutil.rmtree(corpus2)
    shutil.move(bad, corpus2)
    with pytest.raises(ValueError, match="row multiset"):
        rebase_after_compaction(spark, corpus2, state2)


def test_incremental_reads_delta_not_corpus(spark, tmp_path):
    """The scale guarantee itself, measured: increment 1's input
    records are a few passes over the DELTA plus one pass over the
    (narrow) key index — NOT the ~4 full-corpus passes a full
    revalidation costs. AppStatusStore input-records delta, same
    technique as test_fused_run_cuts_input_scans."""
    from automatic_data_validator_spark.introspect import (
        input_records as _input_records,
    )

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    n_corpus, n_delta = 20_000, 1_000
    cat = make_media_catalog(spark, 200, seed=42)
    make_documents(spark, n_corpus, n_media=200, seed=42, num_partitions=2).write.mode(
        "append"
    ).parquet(corpus)
    validate_incremental(spark, corpus, state, catalog=cat)
    make_documents(spark, n_delta, n_media=200, seed=43, num_partitions=1).write.mode(
        "append"
    ).parquet(corpus)
    spark.catalog.clearCache()
    r0 = _input_records(spark)
    res = validate_incremental(spark, corpus, state, catalog=cat)
    read = _input_records(spark) - r0
    assert res.delta_rows == n_delta
    # budget: ~4 delta passes + 1 key-index pass (n_corpus narrow
    # rows) + catalog/store slack. A corpus re-scan would add >= 4x
    # n_corpus on top.
    assert read <= 2 * n_corpus + 10 * n_delta, (read,)


def test_increment_reads_delta_once(spark, tmp_path):
    """With drift off, an increment reads its delta files once: every
    check reads one materialized check frame. The call's file-source
    rows are the delta's plus those of the stores and the catalog it
    reads (the earlier increments' key index, the profile partials);
    one read per check would add >= 3 more delta passes."""
    from scan_counters import source_records

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    make_media_catalog(spark, 200, seed=42).write.parquet(str(tmp_path / "cat"))
    cat = spark.read.parquet(str(tmp_path / "cat"))
    make_documents(spark, 2000, n_media=200, seed=42, num_partitions=2).write.mode(
        "append"
    ).parquet(corpus)
    validate_incremental(spark, corpus, state, catalog=cat)
    n_delta = 4000
    make_documents(spark, n_delta, n_media=200, seed=43, num_partitions=2).write.mode(
        "append"
    ).parquet(corpus)
    index_rows = spark.read.parquet(os.path.join(state, "key_index")).count()
    got = {}
    read = source_records(spark, lambda: got.__setitem__(
        "r", validate_incremental(spark, corpus, state, catalog=cat)))
    assert got["r"].delta_rows == n_delta
    partial_rows = spark.read.parquet(os.path.join(state, "partials")).count()
    budget = n_delta + index_rows + partial_rows + cat.count()
    assert read <= budget, (read, budget)


def test_incremental_honors_unique_key_and_referential_rules(spark, tmp_path):
    """Explicit unique_key and referential rules run in an increment as
    they do in run_validation: each keeps its own rule id (a unique_key
    rule without a column checks key_column), and the merged totals
    equal a full run's. A referential rule without a
    catalog raises, and so does a unique_key rule on a column other
    than key_column (the key index covers key_column only)."""
    from automatic_data_validator_spark import rules as R
    from automatic_data_validator_spark.validate import DEFAULT_RULES

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    cat = make_media_catalog(spark, 100, seed=42)
    # two unique_key rules share the increment's one key-location
    # aggregate while their phases run concurrently
    rules = list(DEFAULT_RULES) + [
        R.Rule("uniq_key", "unique_key", column="doc_id"),
        R.Rule("uniq_key_again", "unique_key"),
        R.Rule("ref_media", "referential", column="spans"),
    ]
    for seed, n in ((42, 1500), (43, 600)):
        make_documents(
            spark, n, n_media=100, seed=seed, num_partitions=2
        ).write.mode("append").parquet(corpus)
        r = validate_incremental(spark, corpus, state, catalog=cat, rule_set=rules)
    full = run_validation(
        spark, spark.read.parquet(corpus), catalog=cat, rule_set=rules
    )
    inc_tot, full_tot = _rule_totals(r.verdicts), _rule_totals(full.verdicts)
    assert {"uniq_key", "uniq_key_again", "ref_media"} <= set(inc_tot)
    assert inc_tot == full_tot
    assert full_tot["uniq_key"][1] > 0 and full_tot["ref_media"][1] > 0
    assert inc_tot["uniq_key"] == inc_tot["uniq_key_again"]
    assert _viol_multiset(r.violations) == _viol_multiset(full.violations)

    with pytest.raises(ValueError, match="require"):
        validate_incremental(spark, corpus, str(tmp_path / "s2"), rule_set=rules)
    with pytest.raises(ValueError, match="key index covers only"):
        validate_incremental(
            spark, corpus, str(tmp_path / "s3"), catalog=cat,
            rule_set=[R.Rule("uniq_spans", "unique_key", column="spans")],
        )


def test_incremental_job_flag(spark, tmp_path):
    """jobs/validate_job.py --incremental-state drives the snapshot-
    delta path end to end: second invocation after an append validates
    only the delta and the merged outputs land under --output."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import validate_job

    base = str(tmp_path / "job")
    make_documents(spark, 2000, n_media=100, seed=42, num_partitions=2).write.mode(
        "append"
    ).parquet(f"{base}/docs")
    make_media_catalog(spark, 100, seed=42).write.mode("overwrite").parquet(
        f"{base}/cat"
    )
    argv = [
        "--documents", f"{base}/docs", "--catalog", f"{base}/cat",
        "--output", f"{base}/out", "--incremental-state", f"{base}/state",
    ]
    rc = validate_job.main(argv)
    assert rc == 1  # synth injects violations
    v1 = spark.read.parquet(f"{base}/out/verdicts")
    assert v1.agg(F.sum("row_count")).collect()[0][0] > 0
    boot_checked = (
        spark.read.parquet(f"{base}/out/run_summary")
        .filter("phase = '__run__'")
        .collect()[0]["row_count"]
    )
    make_documents(spark, 500, n_media=100, seed=9, num_partitions=1).write.mode(
        "append"
    ).parquet(f"{base}/docs")
    rc = validate_job.main(argv)
    assert rc == 1
    merged = spark.read.parquet(f"{base}/out/violations")
    assert merged.select("increment").distinct().count() == 2
    # run-summary parity with the full-run job path — and it covers
    # THIS run only: summarizing the merged all-increment lineage
    # would report the 2000-doc bootstrap's rows (and its wall clock)
    # for a 500-doc delta run
    summ = spark.read.parquet(f"{base}/out/run_summary")
    assert summ.filter("phase = '__run__'").count() == 1
    delta_checked = summ.filter("phase = '__run__'").collect()[0]["row_count"]
    assert delta_checked < boot_checked, (delta_checked, boot_checked)

    # retention rides the run: a third increment with --expire-keep-last
    # rolls increments 0-1 into the -1 base after writing outputs
    make_documents(spark, 300, n_media=100, seed=7, num_partitions=1).write.mode(
        "append"
    ).parquet(f"{base}/docs")
    rc = validate_job.main(argv + ["--expire-keep-last", "1"])
    assert rc == 1
    from automatic_data_validator_spark.incremental import history_report

    incs = {
        r["increment"]
        for r in history_report(spark, f"{base}/state").collect()
    }
    assert incs == {-1, 2}
    # and the flag is refused outside incremental mode
    with pytest.raises(SystemExit, match="expire-keep-last"):
        validate_job.main([
            "--documents", f"{base}/docs", "--output", f"{base}/out2",
            "--expire-keep-last", "1",
        ])
    # an archive dir without retention would be silently dropped
    with pytest.raises(SystemExit, match="expire-archive"):
        validate_job.main([
            "--documents", f"{base}/docs", "--output", f"{base}/out2",
            "--incremental-state", f"{base}/state",
            "--expire-archive", f"{base}/arch",
        ])


def test_incremental_job_flag_on_flat_table(spark, tmp_path):
    """jobs/validate_job.py builds its fallback rule set for a table
    without spans (not_null_<key>) for both run modes: the incremental
    run validates a flat (doc_id, text) table like the full run."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import validate_job

    base = str(tmp_path / "job")
    spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "z")], "doc_id string, text string"
    ).coalesce(1).write.parquet(f"{base}/docs")
    rc_full = validate_job.main(
        ["--documents", f"{base}/docs", "--output", f"{base}/full"]
    )
    rc_inc = validate_job.main([
        "--documents", f"{base}/docs", "--output", f"{base}/inc",
        "--incremental-state", f"{base}/state",
    ])
    assert rc_inc == rc_full

    def totals(out):
        return _rule_totals(spark.read.parquet(f"{out}/verdicts"))

    assert totals(f"{base}/inc") == totals(f"{base}/full")
    assert set(totals(f"{base}/inc")) == {"not_null_doc_id", "unique_doc_id"}


def test_history_report(spark, tmp_path):
    """Per-increment trend view from the verdict store: rows checked
    and violations per (increment, rule) plus an __all__ rollup — no
    corpus data touched."""
    from automatic_data_validator_spark.incremental import history_report

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)
    spark.createDataFrame(
        [("b", 3), ("c", 4)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)

    hist = history_report(spark, state).collect()
    by_key = {(r["increment"], r["rule_id"]): r for r in hist}
    assert by_key[(0, "unique_doc_id")]["violation_count"] == 0
    assert by_key[(0, "unique_doc_id")]["pass"] is True
    # increment 1 duplicates 'b': one new + one promoted occurrence
    assert by_key[(1, "unique_doc_id")]["violation_count"] == 2
    assert by_key[(1, "unique_doc_id")]["pass"] is False
    assert by_key[(1, "__all__")]["violation_count"] == 2
    with pytest.raises(ValueError, match="no incremental state"):
        history_report(spark, str(tmp_path / "nope"))


def test_crashed_increment_rerun_is_idempotent(spark, tmp_path):
    """A crashed attempt writes its stores but not the manifest; the
    re-run must NOT read the orphaned key_index partition back as
    'old' data (it would report every delta key as a duplicate of
    itself — round-5 review finding)."""
    from automatic_data_validator_spark.incremental import _write_inc

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)

    # simulate the crashed attempt at increment 1: its delta keys are
    # already in the key_index store, manifest still says increment 0
    delta = spark.createDataFrame(
        [("c", 3), ("d", 4)], "doc_id string, value int"
    )
    delta.coalesce(1).write.mode("append").parquet(corpus)
    orphan = delta.selectExpr(
        "doc_id", "0 AS partition_id", "CAST(1 AS long) AS cnt"
    )
    _write_inc(orphan, os.path.join(state, "key_index"), 1)

    r = validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)
    assert r.increment == 1
    # c and d are unique in the corpus: the orphaned rows must not
    # have counted against them
    assert _viol_multiset(r.violations) == []
    assert r.passed()


def test_profile_mode_must_stay_consistent(spark, tmp_path):
    """An increment that skips the profile would silently vanish from
    every future merged metric — participation is pinned like
    rule_version (round-5 review finding)."""
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [("a", 1)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    validate_incremental(spark, corpus, state, rule_set=[], with_profile=True)
    spark.createDataFrame(
        [("b", 2)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    with pytest.raises(ValueError, match="participation changed"):
        validate_incremental(
            spark, corpus, state, rule_set=[], with_profile=False
        )


def test_uniqueness_rule_ids_must_stay_consistent(spark, tmp_path):
    """The uniqueness rule ids are pinned like the profile/drift flags:
    a renamed unique_key rule would split its per-rule totals between
    two ids. A manifest without the key (written when every increment
    stored unique_doc_id) reads as unique_doc_id."""
    import json

    from automatic_data_validator_spark import rules as R

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    for i, key in enumerate("ab"):
        spark.createDataFrame(
            [(key, i)], "doc_id string, value int"
        ).coalesce(1).write.mode("append").parquet(corpus)
        if i == 0:
            validate_incremental(spark, corpus, state, rule_set=[])
    mpath = os.path.join(state, "manifest.json")
    manifest = json.load(open(mpath))
    assert manifest["modes"]["unique_rules"] == ["unique_doc_id"]
    del manifest["modes"]["unique_rules"]
    json.dump(manifest, open(mpath, "w"))
    with pytest.raises(ValueError, match="participation changed"):
        validate_incremental(
            spark, corpus, state,
            rule_set=[R.Rule("uniq_key", "unique_key", column="doc_id")],
        )
    r = validate_incremental(spark, corpus, state, rule_set=[])
    assert r.increment == 1
    assert _rule_totals(r.verdicts) == {"unique_doc_id": (2, 0)}


def test_incremental_spill_mode_equals_default(spark, tmp_path, monkeypatch):
    """A delta of more input partitions than run_validation's default
    verdict_spill_threshold takes the runner's spill mode: distributed
    verdicts (the promoted occurrences' partition -1 row included),
    spill-mode profile partials, persisted key locations and lazy
    row-rule violations written after the runner returns. Forced here
    with a threshold of 0, two increments with cross-increment
    duplicates give the per-rule totals, violation multiset and metrics
    of a default-mode state, and leave no cache entry."""
    from automatic_data_validator_spark import incremental as I
    from automatic_data_validator_spark import validate as V

    cat = make_media_catalog(spark, 100, seed=42)
    cache = spark._jsparkSession.sharedState().cacheManager()
    seen = []
    uniqueness = I._IncrementMerges.uniqueness

    def spy(self, *args, distributed=False, **kw):
        seen.append(distributed)
        return uniqueness(self, *args, distributed=distributed, **kw)

    monkeypatch.setattr(I._IncrementMerges, "uniqueness", spy)
    results = {}
    for seed, n in ((42, 1500), (43, 600)):
        batch = make_documents(spark, n, n_media=100, seed=seed, num_partitions=2)
        for mode, threshold in (("default", 100_000), ("spill", 0)):
            monkeypatch.setattr(V, "_VERDICT_SPILL_THRESHOLD", threshold)
            corpus = str(tmp_path / mode / "docs")
            batch.write.mode("append").parquet(corpus)
            spark.catalog.clearCache()
            results[mode] = validate_incremental(
                spark, corpus, str(tmp_path / mode / "state"), catalog=cat
            )
            assert cache.isEmpty(), mode
    assert seen == [False, True, False, True]

    default, spill = results["default"], results["spill"]
    assert spill.increment == 1
    tot = _rule_totals(spill.verdicts)
    assert tot == _rule_totals(default.verdicts)
    assert tot["unique_doc_id"][1] > 0
    # the second increment promoted first-increment occurrences
    assert spill.verdicts.filter(
        (F.col("rule_id") == "unique_doc_id") & (F.col("partition_id") == -1)
        & (F.col("increment") == 1)
    ).count() == 1
    assert _viol_multiset(spill.violations) == _viol_multiset(default.violations)

    def metrics(r):
        return {(m["column"], m["metric"]): m["value"] for m in r.metrics.collect()}

    spill_m, default_m = metrics(spill), metrics(default)
    assert set(spill_m) == set(default_m)
    for k, v in default_m.items():
        if v is None or (isinstance(v, float) and math.isnan(v)):
            assert spill_m[k] is None or math.isnan(spill_m[k]), k
        else:
            assert spill_m[k] == pytest.approx(v, rel=1e-9, abs=1e-9), k


def test_read_store_propagates_corrupt_parquet(spark, tmp_path):
    """An unreadable store must raise, not masquerade as 'never
    written' (which would silently skip cross-increment checks —
    round-5 review finding)."""
    from automatic_data_validator_spark.incremental import _read_store
    from automatic_data_validator_spark.rules import VIOLATION_SCHEMA

    bad = tmp_path / "store" / "increment=0"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        df = _read_store(spark, str(tmp_path / "store"), VIOLATION_SCHEMA)
        df.collect()  # Spark may defer footer read to the action

    # hidden/staging leftovers are NOT data: a crashed write's
    # _temporary files must fall back to the empty frame, not raise
    # UNABLE_TO_INFER_SCHEMA forever (round-5 review finding)
    tmp_store = tmp_path / "store2" / "_temporary" / "0"
    tmp_store.mkdir(parents=True)
    (tmp_store / "part-00000.parquet").write_bytes(b"garbage")
    df2 = _read_store(spark, str(tmp_path / "store2"), VIOLATION_SCHEMA)
    assert df2.count() == 0


def test_drift_columns_naming_missing_column_fails(spark, docs):
    """Explicit drift_columns pointing at a nonexistent column must
    raise, not silently emit zero drift verdicts (round-5 review
    finding: the guard previously covered only the default path)."""
    import numpy as np

    from automatic_data_validator_spark.drift import document_signals

    baseline = {"n_spans": grid_sketch(np.arange(100.0))}
    with pytest.raises(ValueError, match="misconfigured"):
        run_validation(
            spark, docs, rule_set=[], check_uniqueness=False,
            with_profile=False, drift_baseline=baseline,
            drift_signals=document_signals, drift_columns=["n_spanz"],
        )


def test_incremental_grouped_drift_cohorts(spark, tmp_path):
    """Cohort drift in incremental mode (r5): per-(group, column)
    digests persist per increment and merge into per-cohort corpus
    digests — a shifted cohort in a later increment fires while the
    other cohort stays green, a cohort absent from the whole corpus
    but present in the baseline fires missing_in_current, and
    switching drift modes on the same state_dir raises."""
    import numpy as np
    import pandas as pd

    from automatic_data_validator_spark.drift import save_grouped_baseline

    rng = np.random.RandomState(3)
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    bpath = str(tmp_path / "baseline")
    save_grouped_baseline(
        {"A": {"x": grid_sketch(rng.normal(10.0, 1.0, 20_000))},
         "B": {"x": grid_sketch(rng.normal(20.0, 1.0, 20_000))},
         "C": {"x": grid_sketch(rng.normal(0.0, 1.0, 20_000))}},
        spark, bpath,
    )

    def append(rows: pd.DataFrame):
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(corpus)

    # bootstrap: both cohorts in-distribution (doc_id present so the
    # uniqueness family has its key column)
    append(pd.DataFrame({
        "doc_id": [f"a{i}" for i in range(3000)],
        "cohort": ["A"] * 1500 + ["B"] * 1500,
        "x": np.concatenate([rng.normal(10.0, 1.0, 1500),
                             rng.normal(20.0, 1.0, 1500)]),
    }))
    r1 = validate_incremental(
        spark, corpus, state, rule_set=[], with_profile=False,
        drift_baseline=bpath, drift_group_by="cohort",
    )
    d1 = {r["rule_id"]: r for r in r1.verdicts.collect()
          if r["rule_id"].startswith("drift_")}
    assert d1["drift_x[A]"]["pass"] and d1["drift_x[B]"]["pass"]
    # baseline cohort C never ingested -> missing_in_current fires
    assert not d1["drift_x[C]"]["pass"]

    # increment: cohort A shifts hard (delta dominates A's corpus
    # digest), B appends in-distribution
    append(pd.DataFrame({
        "doc_id": [f"b{i}" for i in range(7000)],
        "cohort": ["A"] * 6000 + ["B"] * 1000,
        "x": np.concatenate([rng.normal(14.0, 1.0, 6000),
                             rng.normal(20.0, 1.0, 1000)]),
    }))
    r2 = validate_incremental(
        spark, corpus, state, rule_set=[], with_profile=False,
        drift_baseline=bpath, drift_group_by="cohort",
    )
    d2 = {r["rule_id"]: r for r in r2.verdicts.collect()
          if r["rule_id"].startswith("drift_")}
    assert not d2["drift_x[A]"]["pass"]  # merged A digest drifted
    assert d2["drift_x[B]"]["pass"]      # same increment, same table
    viol = {r["doc_id"]: r["detail"] for r in r2.violations.collect()
            if r["rule_id"].startswith("drift_")}
    assert "x[A]" in viol and "reason=stats" in viol["x[A]"]

    # mode/column switches on the same state_dir are refused: the
    # manifest now pins drift_group_by alongside profile/drift
    # participation (needs a real increment — a no-delta call returns
    # stored state before any check)
    append(pd.DataFrame({
        "doc_id": ["z1", "z2"], "cohort": ["A", "B"],
        "x": [10.0, 20.0],
    }))
    with pytest.raises(ValueError, match="re-bootstrap"):
        validate_incremental(  # cohort -> table-level
            spark, corpus, state, rule_set=[], with_profile=False,
            drift_baseline={"x": grid_sketch(
                rng.normal(10.0, 1.0, 1000))},
        )
    with pytest.raises(ValueError, match="re-bootstrap"):
        validate_incremental(  # cohort column changed
            spark, corpus, state, rule_set=[], with_profile=False,
            drift_baseline=bpath, drift_group_by="doc_id",
        )
    # a FLAT dict baseline with group_by set fails fast with the
    # remedy named, not an opaque iteration error (needs a fresh
    # state so the manifest check doesn't fire first)
    with pytest.raises(ValueError, match="save_grouped_baseline"):
        validate_incremental(
            spark, corpus, str(tmp_path / "state2"), rule_set=[],
            with_profile=False,
            drift_baseline={"x": grid_sketch(
                rng.normal(10.0, 1.0, 1000))},
            drift_group_by="cohort",
        )


def test_compact_state_shrinks_files_preserves_rows(spark, tmp_path):
    """compact_state rewrites each per-increment store down to 1 file
    per increment: rows, the increment partition layout, and the next
    increment's merge semantics are untouched — only file counts
    shrink. Also pins crash recovery: a compaction that died between
    its two swap renames leaves <store>.compact_bak, which makes
    validate_incremental refuse (an absent key index would silently
    pass every cross-increment duplicate) until compact_state restores
    it."""
    from automatic_data_validator_spark.incremental import (
        _parquet_file_count,
        compact_state,
        history_report,
    )

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    cat = make_media_catalog(spark, 100, seed=42)
    for seed, n in ((42, 1500), (43, 800), (44, 600)):
        make_documents(
            spark, n, n_media=100, seed=seed, num_partitions=3
        ).withColumn(
            "doc_id", F.concat(F.lit(f"s{seed}-"), F.col("doc_id"))
        ).write.mode("append").parquet(corpus)
        validate_incremental(spark, corpus, state, catalog=cat)

    before_viol = _viol_multiset(
        spark.read.parquet(os.path.join(state, "violations"))
    )
    before_hist = [
        tuple(r) for r in history_report(spark, state).collect()
    ]
    key_files_before = _parquet_file_count(os.path.join(state, "key_index"))
    assert key_files_before > 3  # per-increment shuffle fan-out

    report = compact_state(spark, state)
    assert report["key_index"][1] <= 3 < report["key_index"][0]
    assert report["verdicts"][1] <= 3
    assert (
        _viol_multiset(spark.read.parquet(os.path.join(state, "violations")))
        == before_viol
    )
    assert [
        tuple(r) for r in history_report(spark, state).collect()
    ] == before_hist

    # idempotent: already-compact stores are left alone
    report2 = compact_state(spark, state)
    assert all(b == a for b, a in report2.values()), report2

    # the NEXT increment still merges correctly against compacted state
    make_documents(
        spark, 400, n_media=100, seed=42, num_partitions=2
    ).withColumn(
        "doc_id", F.concat(F.lit("s42-"), F.col("doc_id"))  # collide w/ inc 0
    ).write.mode("append").parquet(corpus)
    r4 = validate_incremental(spark, corpus, state, catalog=cat)
    full = run_validation(spark, spark.read.parquet(corpus), catalog=cat)
    assert _viol_multiset(r4.violations) == _viol_multiset(full.violations)

    # crashed-compaction simulation: live key_index gone, backup left
    live = os.path.join(state, "key_index")
    os.rename(live, live + ".compact_bak")
    with pytest.raises(ValueError, match="crashed compaction"):
        validate_incremental(spark, corpus, state, catalog=cat)
    with pytest.raises(ValueError, match="crashed compaction"):
        history_report(spark, state)  # readers refuse too, with remedy
    compact_state(spark, state)  # recovery restores the backup
    assert os.path.isdir(live) and not os.path.isdir(live + ".compact_bak")
    assert _viol_multiset(
        validate_incremental(spark, corpus, state, catalog=cat).violations
    ) == _viol_multiset(full.violations)


def test_expire_increments_bounds_history(spark, tmp_path):
    """Retention: verdict/lineage rows of increments past the window
    roll into an increment=-1 base (grand totals preserved), their
    violation rows move to the archive, and the merged families stay
    intact — a key from an EXPIRED increment still promotes when a
    later delta duplicates it (the key index is never expired)."""
    from automatic_data_validator_spark.incremental import (
        expire_increments,
        history_report,
    )

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    archive = str(tmp_path / "archive")
    batches = [
        [("a", 1), ("b", 2)],      # inc 0
        [("b", 3), ("c", 4)],      # inc 1: cross-increment dup 'b'
        [("d", 5)],                # inc 2: clean
        [("e", 6), ("e", 7)],      # inc 3: in-batch dup 'e'
    ]
    for rows in batches:
        spark.createDataFrame(
            rows, "doc_id string, value int"
        ).coalesce(1).write.mode("append").parquet(corpus)
        r = validate_incremental(
            spark, corpus, state, rule_set=[], with_profile=False
        )
    assert _viol_multiset(r.violations) == [
        ("b", "unique_doc_id"), ("b", "unique_doc_id"),
        ("e", "unique_doc_id"), ("e", "unique_doc_id"),
    ]

    def _grand_total(hist_rows):
        return sum(
            r["violation_count"] for r in hist_rows
            if r["rule_id"] == "unique_doc_id"
        ), sum(
            r["row_count"] for r in hist_rows
            if r["rule_id"] == "unique_doc_id"
        )

    pre = _grand_total(history_report(spark, state).collect())

    rep = expire_increments(spark, state, keep_last=2, archive_dir=archive)
    assert rep["expired_through"] == 1
    hist = history_report(spark, state).collect()
    assert {r["increment"] for r in hist} == {-1, 2, 3}
    # grand totals over base + retained equal the pre-expiry report
    assert _grand_total(hist) == pre
    base = [r for r in hist if r["increment"] == -1 and
            r["rule_id"] == "unique_doc_id"][0]
    assert base["violation_count"] == 2 and base["pass"] is False

    # violation store keeps only retained increments; archive has the rest
    r_after = validate_incremental(
        spark, corpus, state, rule_set=[], with_profile=False
    )
    assert _viol_multiset(r_after.violations) == [
        ("e", "unique_doc_id"), ("e", "unique_doc_id"),
    ]
    assert _viol_multiset(spark.read.parquet(archive)) == [
        ("b", "unique_doc_id"), ("b", "unique_doc_id"),
    ]

    # merged families untouched: duplicating EXPIRED-increment key 'a'
    # still fires both occurrences (new + promoted from increment 0)
    spark.createDataFrame(
        [("a", 9)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    r5 = validate_incremental(
        spark, corpus, state, rule_set=[], with_profile=False
    )
    assert _viol_multiset(r5.violations) == [
        ("a", "unique_doc_id"), ("a", "unique_doc_id"),
        ("e", "unique_doc_id"), ("e", "unique_doc_id"),
    ]
    assert r5.violations.filter(
        F.col("detail").contains("promoted")
    ).count() == 1

    # second expiry re-merges the existing base instead of dropping it
    rep2 = expire_increments(spark, state, keep_last=2)
    assert rep2["expired_through"] == 2
    hist2 = history_report(spark, state).collect()
    assert {r["increment"] for r in hist2} == {-1, 3, 4}
    # 'a' promotion adds 2 violations (inc 4); totals still add up
    assert _grand_total(hist2)[0] == pre[0] + 2

    # report counts only REAL expiring increments, not the re-merged
    # base rows (inc 2 held one verdict row)
    assert rep2["verdicts"][0] == 1

    # no-op path: window covers everything that is left; the
    # watermark reports the manifest's value, never a bogus negative
    rep3 = expire_increments(spark, state, keep_last=50)
    assert "verdicts" not in rep3
    assert rep3["expired_through"] == 2

    # the watermark survives later increments (manifest rebuild)
    spark.createDataFrame(
        [("f", 10)], "doc_id string, value int"
    ).coalesce(1).write.mode("append").parquet(corpus)
    validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)
    import json as _json

    m = _json.load(open(os.path.join(state, "manifest.json")))
    assert m["expired_through"] == 2

    # guards
    with pytest.raises(ValueError, match="keep_last"):
        expire_increments(spark, state, keep_last=0)
    with pytest.raises(ValueError, match="no incremental state"):
        expire_increments(spark, str(tmp_path / "nope"))
    bak = os.path.join(state, "verdicts.compact_bak")
    os.makedirs(bak)
    with pytest.raises(ValueError, match="crashed compaction"):
        expire_increments(spark, state, keep_last=1)
    os.rmdir(bak)


def test_expire_increments_resumes_after_partial_crash(spark, tmp_path):
    """A crash between two stores' swaps must not wedge the later
    stores: re-running expire_increments expires a store with
    in-window rows even when the earlier stores are already clean."""
    import shutil

    from automatic_data_validator_spark.incremental import (
        expire_increments,
    )

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    for rows in [[("a", 1), ("a", 2)], [("b", 3)], [("c", 4)]]:
        spark.createDataFrame(
            rows, "doc_id string, value int"
        ).coalesce(1).write.mode("append").parquet(corpus)
        validate_incremental(
            spark, corpus, state, rule_set=[], with_profile=False
        )
    viol_store = os.path.join(state, "violations")
    snapshot = str(tmp_path / "viol_snapshot")
    shutil.copytree(viol_store, snapshot)

    rep1 = expire_increments(spark, state, keep_last=1)
    assert rep1["violations"][0] == 2  # both 'a' occurrences dropped

    # simulate the crash: verdicts/lineage swapped, violations did not
    shutil.rmtree(viol_store)
    shutil.copytree(snapshot, viol_store)
    rep2 = expire_increments(spark, state, keep_last=1)
    # verdicts had nothing newly expirable, violations still expired
    assert "verdicts" not in rep2
    assert rep2["violations"] == (2, 0)


def test_incremental_sees_hive_partition_columns(spark, tmp_path):
    """A corpus laid out as hive partitions (/docs/ds=…/part-*.parquet)
    must validate identically in incremental mode: the delta is read as
    leaf files, which disables partition discovery unless basePath is
    set — without it every increment (bootstrap included) silently
    dropped the ds column from rules/profile while a full
    run_validation over the same path saw it."""
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")

    docs = make_documents(spark, 1200, n_media=100, seed=42).withColumn(
        "ds", F.when(F.xxhash64("doc_id") % 2 == 0, "2026-08-01")
        .otherwise("2026-08-02")
    )
    docs.write.mode("append").partitionBy("ds").parquet(corpus)
    r1 = validate_incremental(spark, corpus, state)
    assert r1.delta_rows == 1200
    # the partition column is profiled like any other column
    m1 = {r["column"] for r in r1.metrics.collect()}
    assert "ds" in m1, sorted(m1)

    # and the next increment merges it consistently with a full run
    make_documents(spark, 300, n_media=100, seed=9).withColumn(
        "ds", F.lit("2026-08-03")
    ).write.mode("append").partitionBy("ds").parquet(corpus)
    r2 = validate_incremental(spark, corpus, state)
    full = run_validation(
        spark, spark.read.parquet(corpus), with_profile=True
    )
    inc_m = {
        (r["column"], r["metric"]): r["value"] for r in r2.metrics.collect()
    }
    full_m = {
        (r["column"], r["metric"]): r["value"] for r in full.metrics.collect()
    }
    assert set(inc_m) == set(full_m)
    for k, v in full_m.items():
        if isinstance(v, float) and not math.isnan(v):
            assert inc_m[k] == pytest.approx(v, rel=1e-9, abs=1e-9), k


LEGACY = os.path.join(os.path.dirname(__file__), "golden", "legacy_tdigest")


def test_legacy_tdigest_state_continues(spark, tmp_path):
    """State written when drift sketches were t-digest JSON keeps
    working. The fixture (tests/golden/legacy_tdigest) holds a
    save_baseline file and the ``sketches`` store row of a bootstrap
    increment, both written by the t-digest engine over the frames
    below. The baseline loads, an increment continues the stored
    history, and the drift flags equal the ones that engine gave:
    increment 0 passes, and at increment 1 only ``shifted`` drifts (it
    reported ks=0.162395, psi=0.234196; the grid KS stays within 0.01
    of it)."""
    import shutil

    from automatic_data_validator_spark.drift import load_baseline

    def frame(lo, hi, shift):
        i = F.col("id")
        return spark.range(lo, hi, 1, 1).select(
            F.concat(F.lit("d"), i.cast("string")).alias("doc_id"),
            ((i * 37) % 1000).cast("double").alias("stable"),
            ((i * 53) % 1000 + shift).cast("double").alias("shifted"),
            (i % 7).cast("double").alias("mixed"),
        )

    baseline_path = os.path.join(LEGACY, "baseline")
    baseline = load_baseline(spark, baseline_path)
    assert sorted(baseline) == ["mixed", "shifted", "stable"]
    assert all(g.total_weight == 5000 for g in baseline.values())
    assert baseline["stable"].quantile(0.0) == 0.0
    assert baseline["stable"].quantile(1.0) == 999.0

    corpus, state = str(tmp_path / "docs"), str(tmp_path / "state")

    def drift_flags(inc):
        res = validate_incremental(
            spark, corpus, state, rule_set=[], with_profile=False,
            drift_baseline=baseline_path,
        )
        details.update({r["doc_id"]: r["detail"] for r in res.violations.collect()
                        if r["rule_id"].startswith("drift_")})
        return {r["rule_id"]: r["pass"] for r in res.verdicts.collect()
                if r["rule_id"].startswith("drift_") and r["increment"] == inc}

    details: dict = {}

    frame(0, 3000, 0).write.parquet(corpus)
    assert drift_flags(0) == {
        "drift_mixed": True, "drift_shifted": True, "drift_stable": True}
    # the bootstrap's history is the t-digest engine's row
    shutil.rmtree(os.path.join(state, "sketches"))
    shutil.copytree(os.path.join(LEGACY, "sketches"), os.path.join(state, "sketches"))
    frame(3000, 5000, 400).write.mode("append").parquet(corpus)
    assert drift_flags(1) == {
        "drift_mixed": True, "drift_shifted": False, "drift_stable": True}
    ks = float(details["shifted"].split(";")[0].removeprefix("ks="))
    assert abs(ks - 0.162395) < 0.01, details
