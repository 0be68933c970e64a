"""Fused rules+profile scan (round-2 VERDICT directive #1).

The profiler's algebraic statistics ride the row-rules per-partition
aggregate; globals are reconstructed from per-partition partials
(Pébay-merged central moments, HLL sketch unions, exact sum/min/max
merges). These tests pin (a) statistic equivalence vs the classic
single-agg profile, (b) edge-case moment semantics, and (c) the actual
IO saving: a fused end-to-end run stays under the 4-scan budget."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from automatic_data_validator_spark.profile import (
    build_partial_profile,
    finalize_partial_profile,
    profile,
    profile_partitioned,
)
from automatic_data_validator_spark.validate import run_validation


def _close(a, b, rtol=1e-6):
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= rtol * max(abs(a), abs(b), 1e-12)
    return a == b


def _mixed_frame(spark):
    """All profiled dtypes + pathological columns: nulls, constants,
    a single-value column, an all-null column, negatives, skew."""
    return spark.range(0, 10_000, 1, 6).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("small_int"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.pow(F.col("id") % 100, F.lit(2.0)) - 50)
        .alias("skewed_dbl"),
        F.lit(3.25).alias("const_dbl"),
        F.lit(None).cast("double").alias("all_null"),
        F.when(F.col("id") % 3 == 0, F.lit("apple pie"))
        .when(F.col("id") % 3 == 1, F.lit("1234"))
        .otherwise(F.lit("UPPER!"))
        .alias("s"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") % 2 == 0))
        .alias("b"),
        F.to_timestamp(F.lit("2023-01-01 00:00:00")).alias("ts"),
        F.array(F.col("id").cast("string"), F.lit("x")).alias("arr"),
    )


def test_partitioned_profile_matches_classic(spark):
    df = _mixed_frame(spark)
    classic = profile(df, detect_formats=False)
    fused = profile_partitioned(df, detect_formats=False)
    assert fused.row_count == classic.row_count
    for c, st in classic.stats.items():
        for m, v in st.items():
            got = fused.stats.get(c, {}).get(m, "MISSING")
            if m == "distinct_count":
                # HLL-union sketch vs approx_count_distinct: both are
                # estimates; they must agree within combined error
                assert got != "MISSING" and _close(got, v, rtol=0.2), (c, m, v, got)
            elif m in ("q1", "median", "q3"):
                assert _close(got, v, rtol=0.05), (c, m, v, got)
            else:
                assert _close(got, v, rtol=1e-6), (c, m, v, got)
    # no extra metrics invented either
    extra = {
        (c, m)
        for c, st in fused.stats.items()
        for m in st
        if m not in classic.stats.get(c, {})
    }
    assert not extra


def test_partitioned_profile_suggestions_match(spark):
    df = _mixed_frame(spark)
    classic = profile(df, detect_formats=False)
    fused = profile_partitioned(df, detect_formats=False)
    for c, sug in classic.suggestions.items():
        fsug = fused.suggestions[c]
        for k in ("null_count", "is_categorical", "suggested_dtype", "dtype"):
            if k == "is_categorical" or k == "suggested_dtype":
                # derived from the approximate distinct count — equal
                # here because the cardinalities are far from threshold
                assert fsug[k] == sug[k], (c, k)
            else:
                assert fsug[k] == sug[k], (c, k)


def test_moment_merge_edge_partitions(spark):
    """Single-row partitions, constant columns, empty-after-filter
    partitions: the Pébay merge must reproduce Spark's own
    stddev/skewness/kurtosis semantics including NaN/null edges."""
    df = spark.range(0, 5, 1, 5).select(  # five 1-row partitions
        (F.col("id") * 1.5).alias("x"),
        F.lit(2.0).alias("c"),
    )
    classic = profile(df, detect_formats=False)
    fused = profile_partitioned(df, detect_formats=False)
    for col in ("x", "c"):
        for m in ("mean", "std", "skewness", "kurtosis", "min", "max"):
            assert _close(
                fused.stats[col].get(m), classic.stats[col].get(m), rtol=1e-9
            ), (col, m, classic.stats[col].get(m), fused.stats[col].get(m))
    one = spark.range(1).select(F.lit(7.0).alias("x"))
    cf, ff = profile(one), profile_partitioned(one)
    assert ff.stats["x"]["std"] is None and cf.stats["x"]["std"] is None
    assert ff.stats["x"]["mean"] == 7.0


def _metric_map(rows):
    return {(c, m): v for c, m, v in rows}


def test_run_validation_fused_metrics_match_classic(spark, docs, catalog):
    fused = run_validation(spark, docs, catalog=catalog, with_profile=True)
    fm = _metric_map(map(tuple, fused.metrics.collect()))
    cm = _metric_map(profile(docs, detect_formats=False).metrics_rows())
    assert set(fm) == set(cm)
    for k, v in cm.items():
        rtol = 0.2 if k[1] == "distinct_count" else 1e-6
        assert _close(fm[k], v, rtol=rtol), (k, v, fm[k])
    # the profile partials riding the row-rules scan must not change its
    # verdicts: compare against the plain row-rules scan
    plain = run_validation(spark, docs, catalog=catalog, with_profile=False)
    assert sorted(map(tuple, fused.verdicts.collect())) == sorted(
        map(tuple, plain.verdicts.collect())
    )


def test_profile_without_row_rules_scan_matches_fused(spark, docs, tmp_path):
    """With no row-rules scan for the partials to ride — no row rules,
    or a resume whose row_rules phase is checkpointed but profile is
    not — run_validation profiles through profile_partitioned: the same
    partial plan and finalize, so the metrics equal the fused run's."""
    fused = _metric_map(map(tuple, run_validation(
        spark, docs, check_uniqueness=False, with_profile=True
    ).metrics.collect()))
    ck = str(tmp_path / "ck")
    run_validation(spark, docs, checkpoint_dir=ck, check_uniqueness=False,
                   with_profile=False)
    resumed = run_validation(spark, docs, checkpoint_dir=ck,
                             check_uniqueness=False, with_profile=True)
    no_rules = run_validation(spark, docs, rule_set=[], check_uniqueness=False,
                              with_profile=True)
    for res in (resumed, no_rules):
        got = _metric_map(map(tuple, res.metrics.collect()))
        assert set(got) == set(fused)
        for k, v in fused.items():
            assert _close(got[k], v, rtol=1e-9), (k, v, got[k])


from automatic_data_validator_spark.introspect import (
    input_records as _input_records,
    scan_records as _scan_records,
    source_records as _source_records,
)


@pytest.fixture()
def parquet_docs(spark, tmp_path_factory):
    from automatic_data_validator_spark.synth import (
        make_documents,
        make_media_catalog,
    )

    base = tmp_path_factory.mktemp("fused_io")
    make_documents(spark, 30_000, n_media=500, seed=11).write.parquet(
        str(base / "docs")
    )
    make_media_catalog(spark, 500, seed=11).write.parquet(str(base / "cat"))
    return base


def test_fused_run_cuts_input_scans(spark, parquet_docs):
    """One source read per run (the north rule's single pass): a full
    validation run — materializing every output, as bench does — scans
    the documents once into the check frame (rule flags, profile
    partials, keys, media refs) and the catalog for the referential
    join, and every check reads the check frame. With no drift
    baseline nothing else reads the input. Was 4 document scans
    (fused rules+profile, violation filter, uniqueness, referential)."""
    n_docs = 30_000
    docs = spark.read.parquet(str(parquet_docs / "docs"))
    catalog = spark.read.parquet(str(parquet_docs / "cat"))
    counts = {}

    def run():
        res = run_validation(spark, docs, catalog=catalog, with_profile=True)
        # materialize everything a production run writes
        res.violations.count()
        res.verdicts.count()
        res.metrics.count()

    def run_counting_blocks():
        counts["all"] = _scan_records(spark, run)

    source = _source_records(spark, run_counting_blocks)
    # the documents once, the 500-row catalog twice (its count and the
    # join): 1.03 reads of n_docs
    assert source <= 1.3 * n_docs, (source / n_docs,)
    # block reads: at most one check-frame read per consumer (the
    # per-partition aggregate, violation rows, uniqueness, referential),
    # plus the small result checkpoints the verdicts and the caller read
    assert counts["all"] - source <= 4.2 * n_docs, (counts["all"] / n_docs,)


@pytest.mark.parametrize("shape", ["flat_text", "spill"])
def test_check_frame_kept_only_when_narrow(spark, parquet_docs, tmp_path, shape):
    """run_validation materializes its check frame only when the frame
    is narrow and the run is not in spill mode. A profiled flat
    (doc_id, text) table would copy its text into the frame, and a
    spill-mode frame would hold every row in block storage with no
    lineage. Both read the source once per check instead, and no
    per-row frame is read back from block storage."""
    from automatic_data_validator_spark import rules as R
    from automatic_data_validator_spark.synth import make_neardup_corpus
    from automatic_data_validator_spark.validate import check_frame

    n_docs = 30_000
    docs = spark.read.parquet(str(parquet_docs / "docs"))
    assert check_frame(docs, ["doc_id"], [], {}, profile=True)[1]
    kwargs = {"with_profile": True}
    if shape == "flat_text":
        make_neardup_corpus(spark, n_docs, 0, seed=5).write.parquet(
            str(tmp_path / "flat"))
        docs = spark.read.parquet(str(tmp_path / "flat"))
        assert not check_frame(docs, ["doc_id"], [], {}, profile=True)[1]
        assert check_frame(docs, ["doc_id"], [], {}, profile=False)[1]
        kwargs["rule_set"] = [R.Rule("nn", "not_null", column="doc_id")]
        # aggregate, violation filter, uniqueness
        n_checks = 3
    else:
        kwargs["catalog"] = spark.read.parquet(str(parquet_docs / "cat"))
        kwargs["verdict_spill_threshold"] = 0
        # aggregate, violation filter, uniqueness, referential
        n_checks = 4
    counts = {}

    def run():
        res = run_validation(spark, docs, **kwargs)
        res.violations.count()
        res.verdicts.count()
        res.metrics.count()

    def run_counting_blocks():
        counts["all"] = _scan_records(spark, run)

    source = _source_records(spark, run_counting_blocks)
    assert n_checks * n_docs <= source <= (n_checks + 0.3) * n_docs, (
        source / n_docs,)
    # only the small result checkpoints (violation sets, spill-mode
    # verdicts and partition aggregate) are read back
    assert counts["all"] - source <= 0.5 * n_docs, (counts["all"] / n_docs,)


def test_fused_leaves_no_cache_entries(spark, docs, catalog):
    spark.catalog.clearCache()
    docs.cache().count()
    jsc = spark.sparkContext._jsc.sc()
    # DELTA assertion: earlier tests in the shared session may leave
    # localCheckpoint blocks (they clear on GC, not clearCache)
    before = jsc.getPersistentRDDs().size()
    res = run_validation(spark, docs, catalog=catalog, with_profile=True)
    res.violations.count()
    res.metrics.count()
    n = jsc.getPersistentRDDs().size() - before
    # at most the three small persisted violation frames added (r6:
    # the row-rules violations are localCheckpoint'ed during the run
    # so the caller's write does not re-scan the input)
    assert n <= 3, n


def test_fused_run_with_numeric_columns_adds_quantile_pass(spark):
    """Generic tables with numeric columns go through the fused scan
    PLUS the column-pruned quantile pass; metrics must still match the
    classic single-agg profile."""
    import pyspark.sql.functions as F2

    from automatic_data_validator_spark import rules as R

    df = spark.range(0, 20_000, 1, 8).select(
        F2.concat(F2.lit("k"), F2.col("id")).alias("key"),
        (F2.col("id") % 97).cast("double").alias("val"),
        F2.when(F2.col("id") % 11 == 0, None)
        .otherwise(F2.col("id") % 5)
        .cast("int")
        .alias("cat"),
    )
    rules = [
        R.Rule("nn_key", "not_null", column="key"),
        R.Rule("val_range", "range", column="val", params={"min": 0, "max": 100}),
    ]
    fused = run_validation(spark, df, rule_set=rules, key_column="key",
                           check_uniqueness=False, with_profile=True)
    fm = _metric_map(map(tuple, fused.metrics.collect()))
    cm = _metric_map(profile(df, detect_formats=False).metrics_rows())
    assert set(fm) == set(cm)
    # quantiles present and matching (the pruned extra pass ran)
    for c in ("val", "cat"):
        for m in ("q1", "median", "q3"):
            assert (c, m) in fm
            assert _close(fm[(c, m)], cm[(c, m)], rtol=0.05), (c, m)
    for k, v in cm.items():
        rtol = 0.2 if k[1] == "distinct_count" else (
            0.05 if k[1] in ("q1", "median", "q3") else 1e-6
        )
        assert _close(fm[k], v, rtol=rtol), (k, v, fm[k])


def test_fused_profile_in_spill_mode_matches_default(spark, docs, catalog):
    """Spill mode (distributed verdicts, 8M-partition path) must
    produce the same fused-profile metrics and verdicts as the default
    driver-collected path."""
    base = run_validation(spark, docs, catalog=catalog, with_profile=True)
    spilled = run_validation(
        spark, docs, catalog=catalog, with_profile=True,
        verdict_spill_threshold=1,
    )
    bm = {(r["column"], r["metric"]): r["value"] for r in base.metrics.collect()}
    sm = {(r["column"], r["metric"]): r["value"] for r in spilled.metrics.collect()}
    assert set(bm) == set(sm)
    for k, v in bm.items():
        assert _close(sm[k], v, rtol=1e-9), (k, v, sm[k])
    assert sorted(map(tuple, base.verdicts.collect())) == sorted(
        map(tuple, spilled.verdicts.collect())
    )


def _fused_quantile_profile(df):
    """Grid quantiles riding the partial scan — the path
    incremental.validate_incremental ships."""
    plan = build_partial_profile(df, detect_formats=False, fused_quantiles=True)
    part = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*plan.exprs)
        .persist()
    )
    try:
        return finalize_partial_profile(part, plan)
    finally:
        part.unpersist()


def test_fused_quantiles_match_approx_within_tolerance(spark):
    """Fused quantile grids (round-3 VERDICT directive #10): grid-
    merged q1/median/q3 must track the percentile_approx pass within
    the documented grid-step tolerance, and every non-quantile metric
    must be identical to profile_partitioned's."""
    df = _mixed_frame(spark)
    approx = profile_partitioned(df, detect_formats=False)
    fused = _fused_quantile_profile(df)
    for c, st in approx.stats.items():
        for m, v in st.items():
            got = fused.stats.get(c, {}).get(m, "MISSING")
            if m in ("q1", "median", "q3"):
                if v is None:
                    assert got is None, (c, m, got)
                else:
                    # grid rank error ≲ 1/32 within a partition: allow
                    # 5% of the column's value range
                    rng = (approx.stats[c]["max"] or 0) - (
                        approx.stats[c]["min"] or 0
                    )
                    assert got != "MISSING" and got is not None, (c, m)
                    assert abs(got - v) <= max(0.05 * rng, 1e-9), (c, m, v, got)
            elif m == "distinct_count":
                assert _close(got, v, rtol=0.2), (c, m, v, got)
            else:
                assert _close(got, v, rtol=1e-6), (c, m, v, got)
    assert fused.stats["all_null"]["median"] is None


def test_fused_quantiles_single_input_pass(spark, tmp_path_factory):
    """The point of the grids: a numeric table profiles in ONE input
    pass with fused quantiles (vs two with profile_partitioned's
    separate quantile pass)."""
    base = tmp_path_factory.mktemp("fusedq")
    n = 30_000
    spark.range(0, n, 1, 8).select(
        F.col("id").cast("double").alias("a"),
        (F.col("id") % 101).cast("double").alias("b"),
    ).write.parquet(str(base / "t"))

    def passes(run) -> float:
        spark.catalog.clearCache()
        df = spark.read.parquet(str(base / "t"))
        r0 = _input_records(spark)
        run(df)
        return (_input_records(spark) - r0) / n

    assert passes(lambda df: profile_partitioned(df, detect_formats=False)) >= 1.8
    assert passes(_fused_quantile_profile) <= 1.2


def test_profile_without_row_rules_scan_input_passes(spark, tmp_path):
    """With no row-rules scan to ride, run_validation profiles a numeric
    table through profile_partitioned: one grouped partial scan plus the
    column-pruned quantile pass, so two input passes and no more."""
    n = 30_000
    spark.range(0, n, 1, 8).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.col("id") % 101).cast("double").alias("val"),
    ).write.parquet(str(tmp_path / "t"))
    spark.catalog.clearCache()
    df = spark.read.parquet(str(tmp_path / "t"))
    r0 = _input_records(spark)
    res = run_validation(spark, df, rule_set=[], key_column="key",
                         check_uniqueness=False, with_profile=True)
    res.metrics.count()
    passes = (_input_records(spark) - r0) / n
    assert passes <= 2.2, passes
    assert ("val", "median") in _metric_map(map(tuple, res.metrics.collect()))


def test_check_frame_profile_matches_partitioned_on_nested_columns(spark):
    """run_validation profiles nested columns through stand-ins in its
    check frame (an array of structs keeps one fixed-width field, a
    struct or map becomes a boolean). Every metric must equal
    profile_partitioned over the input itself, nulls and empty arrays
    included."""
    from automatic_data_validator_spark import rules as R

    df = spark.range(0, 3_000, 1, 6).selectExpr(
        "concat('k', id % 2900) as key",
        "if(id % 7 = 0, null, named_struct('a', id, 'b', cast(id as string))) as st",
        "if(id % 5 = 0, null, map('m', id)) as mp",
        "if(id % 11 = 0, null, sequence(0, cast(id % 4 as int))) as arr",
        "if(id % 13 = 0, null, if(id % 3 = 0, array(), array("
        "named_struct('t', cast(id as string), 'n', cast(id as int)), null))) as sa",
        "cast(id % 17 as double) as val",
    )
    res = run_validation(
        spark, df, rule_set=[R.Rule("nn", "not_null", column="key")],
        key_column="key", with_profile=True,
    )
    got = _metric_map(map(tuple, res.metrics.collect()))
    want = _metric_map(profile_partitioned(df, detect_formats=False).metrics_rows())
    assert set(got) == set(want)
    for k, v in want.items():
        assert _close(got[k], v, rtol=1e-9), (k, v, got[k])
    assert {c for c, _m in got} >= {"st", "mp", "arr", "sa"}
    # the uniqueness phase read the same check frame
    dup = res.verdicts.filter("rule_id = 'unique_doc_id'").agg(
        F.sum("violation_count")).collect()[0][0]
    assert dup == 200  # keys k0..k99 occur twice
