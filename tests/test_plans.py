"""Physical-plan shape guards: the properties PLANS.md documents must
survive refactors — pushdown reaching the scan, broadcast vs
sort-merge selection, salted two-phase aggregation."""

from __future__ import annotations

import pyspark.sql.functions as F

from automatic_data_validator_spark import dedup as D


def _final_plan(df) -> str:
    df.count()  # finalize AQE so the executed plan is the real one
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_reaches_parquet(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= F.lit("1996-01-01").cast("timestamp")).select(
        "l_orderkey", "l_extendedprice"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 3 referenced columns in ReadSchema
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_quantity" not in read_schema


def test_uniqueness_violations_single_scan(spark, tmp_path):
    """The uniqueness check reads the fact table EXACTLY ONCE: phase 1
    aggregates by (key, partition_id) — the physical partition doubles
    as skew salt and attribution — and phase 2 is a window over the
    aggregated rows, so the former second attribution scan is gone
    (round-2 directive #1/#6). The violation set is checkpointed inside
    the call, so the scan count and the plan are read from the SQL
    executions the call submitted."""
    from scan_counters import executed_plans, source_records
    from automatic_data_validator_spark.synth import make_documents

    path = str(tmp_path / "uniq_docs")
    make_documents(spark, 5_000, n_media=200, seed=7).write.parquet(path)
    docs = spark.read.parquet(path)
    # known totals, as run_validation passes them: without them the
    # check adds its own key-pruned totals pass
    totals = {
        r[0]: r[1]
        for r in docs.groupBy(F.spark_partition_id()).count().collect()
    }

    def check():
        D.uniqueness_check(docs, "doc_id", partition_totals=totals)

    assert source_records(spark, check) == 5_000
    p = "\n".join(executed_plans(spark, check))
    # no join anywhere: attribution comes from the aggregate itself
    assert "Join" not in p
    # both exchanges present: (doc_id, partition_id) then doc_id only
    assert "hashpartitioning(doc_id" in p and "partition_id" in p


def test_two_phase_salted_aggregation_shape(spark, docs):
    dups = D.duplicate_key_counts(docs, "doc_id")
    plan = _final_plan(dups)
    # phase 1 exchange keyed (doc_id, _salt), phase 2 keyed doc_id only
    assert "hashpartitioning(doc_id" in plan
    assert "_salt" in plan


def test_bucketed_table_groupby_and_join_shuffle_free(spark):
    """write_bucketed_table co-locates by key at write time: a
    groupBy on the bucket key and a bucketed-bucketed equi-join both
    plan WITHOUT any Exchange (the amortized-shuffle story for
    repeated validations of the same corpus)."""
    import pyspark.sql.functions as F2

    from automatic_data_validator_spark.sources import write_bucketed_table

    df = spark.range(0, 5000).select(
        F2.concat(F2.lit("d"), F2.col("id") % 700).alias("doc_id"),
        (F2.col("id") % 13).alias("v"),
    )
    for name in ("advs_bucketed_a", "advs_bucketed_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed_table(df, name, "doc_id", num_buckets=8)
    try:
        a = spark.table("advs_bucketed_a")
        b = spark.table("advs_bucketed_b")
        agg_plan = (
            a.groupBy("doc_id").count()._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Exchange" not in agg_plan, agg_plan
        # merge hint: at test size the planner prefers broadcast (its
        # BroadcastExchange would be cheaper still) — the 100-TB case
        # is two fact-sized sides where SMJ is forced anyway
        join_plan = (
            a.hint("merge").join(b.hint("merge"), "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in join_plan, join_plan
        assert "Exchange" not in join_plan, join_plan
        # count survives the shuffle-free plans
        assert a.groupBy("doc_id").count().count() == 700
        # unbucketed source needs the shuffle — the assertion above is
        # about bucketing, not AQE eliding exchanges generally
        plain_plan = (
            df.groupBy("doc_id").count()._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Exchange" in plain_plan
    finally:
        for name in ("advs_bucketed_a", "advs_bucketed_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_uniqueness_on_bucketed_input_plans_zero_exchange(spark):
    """Re-validating a corpus bucketed by the key column amortizes the
    uniqueness shuffle to ZERO (r5, round-4 VERDICT directive #4):
    the scan's HashPartitioning(doc_id) satisfies the clustered
    distribution of BOTH phases — groupBy(doc_id, partition_id) (same
    doc_id => same bucket, so the pid 'salt' costs nothing) and the
    per-key window — and Catalyst elides every Exchange, fusing the
    whole check into one stage: the call writes zero shuffle bytes. No
    code path switch is involved: the salting-by-physical-partition-id
    design degrades to a no-op under bucketing by construction. The
    same holds for the fixed-salt two-phase duplicate_key_counts.
    Unbucketed input keeps its shuffles (the contrast pins that the
    assert is about bucketing, not AQE coincidence)."""
    import pyspark.sql.functions as F2

    from automatic_data_validator_spark.dedup import (
        duplicate_key_counts,
        uniqueness_check,
    )
    from scan_counters import executed_plans, shuffle_write_bytes
    from automatic_data_validator_spark.sources import write_bucketed_table

    df = spark.range(0, 5000).select(
        F2.concat(F2.lit("d"), F2.col("id") % 700).alias("doc_id"),
        (F2.col("id") % 13).alias("v"),
    )
    spark.sql("DROP TABLE IF EXISTS advs_bucketed_uniq")
    write_bucketed_table(df, "advs_bucketed_uniq", "doc_id", num_buckets=8)
    try:
        bucketed = spark.table("advs_bucketed_uniq")
        out = {}
        # distributed verdicts (a lazy totals frame): the only job the
        # call runs is the one that materializes the violation set
        totals = bucketed.groupBy(
            F2.spark_partition_id().alias("partition_id")
        ).agg(F2.count(F2.lit(1)).alias("row_count"))

        def check():
            out["shuffle"] = shuffle_write_bytes(spark, lambda: out.update(
                r=uniqueness_check(bucketed, "doc_id", partition_totals=totals)
            ))

        plans = executed_plans(spark, check)
        verd, viol = out["r"]
        assert out["shuffle"] == 0, plans
        assert any("Bucketed: true" in p for p in plans), plans
        dup_plan = (
            duplicate_key_counts(bucketed, "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in dup_plan, dup_plan
        # every d* key occurs 5000/700-ish times -> all 700 duplicated
        assert viol.select("doc_id").distinct().count() == 700
        assert not verd.filter("`pass`").count()  # every partition hit
        # unbucketed source still shuffles — same frames, same code
        assert shuffle_write_bytes(spark, lambda: uniqueness_check(
            df, "doc_id", partition_totals=totals
        )) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS advs_bucketed_uniq")


from automatic_data_validator_spark.introspect import (
    input_records as _input_records,
)


def test_ngram_jaccard_scans_corpus_once_and_prunes(spark, tmp_path):
    """The verify join semi-join-prunes the corpus to candidate ids
    BEFORE shingling and (below the broadcast gate) materializes the
    pruned shingle frame once: total input records for a verify over a
    stored corpus must be ~ONE corpus scan — the former shape shingled
    and scanned the corpus on BOTH pair sides (round-5 perf fix)."""
    from automatic_data_validator_spark.synth import make_neardup_corpus

    path = str(tmp_path / "njp_corpus")
    n = 4_000
    make_neardup_corpus(spark, n, 400, seed=7).write.parquet(path)
    df = spark.read.parquet(path)
    pairs = spark.createDataFrame(
        # two planted near-dup pairs + one cross-group (jaccard 0) pair
        [("dd-000000000000", "dd-000000000001"),
         ("dd-000000000002", "dd-000000000003"),
         ("dd-000000000000", "dd-000000000002")],
        "id_a string, id_b string",
    )
    rec0 = _input_records(spark)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard(df, "doc_id", "text", pairs).collect()
    }
    delta = _input_records(spark) - rec0
    assert n <= delta <= int(1.5 * n), delta  # one corpus scan, not two
    assert set(got) == {
        ("dd-000000000000", "dd-000000000001"),
        ("dd-000000000002", "dd-000000000003"),
        ("dd-000000000000", "dd-000000000002"),
    }
    # planted pairs share 40 of 41 words -> trigram jaccard ~0.9
    assert got[("dd-000000000000", "dd-000000000001")] > 0.8
    assert got[("dd-000000000002", "dd-000000000003")] > 0.8
    assert got[("dd-000000000000", "dd-000000000002")] < 0.1


def test_neardup_bucket_stages_coalesce(spark):
    """neardup_dedup's bucket aggregate is checkpointed, not cached:
    AQE never re-partitions a cached plan, so the cached shape ran the
    window/aggregate and pair-expansion stages over every one of
    spark.sql.shuffle.partitions partitions. With the checkpoint AQE
    coalesces them, so on a small corpus no stage of the whole
    pipeline (outputs included) runs that many tasks."""
    from scan_counters import stage_tasks
    from automatic_data_validator_spark.synth import make_neardup_corpus

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = make_neardup_corpus(spark, 2_000, 200, seed=7)
    assert df.rdd.getNumPartitions() < n_shuffle
    counts = {}

    def run():
        kept, drop, pairs, oversize = D.neardup_dedup(df)
        counts.update(
            kept=kept.count(), drop=drop.count(), pairs=pairs.count(),
            oversize=oversize.count(),
        )

    tasks = stage_tasks(spark, run)
    assert counts == {"kept": 1_900, "drop": 100, "pairs": 100, "oversize": 0}
    assert tasks and max(tasks.values()) < n_shuffle, sorted(tasks.items())


def test_sorted_table_range_scan_skips_files(spark, tmp_path):
    """write_sorted_table lays files out as disjoint sort-key ranges:
    a key-range predicate covering 1/8 of the keyspace reads ~1/8 of
    the records (parquet footer min/max pruning), while the same
    predicate over a randomly-partitioned copy of the SAME rows reads
    everything. The filter must also reach the scan as a PushedFilter
    — without pushdown there is nothing for the stats to prune."""
    from scan_counters import scan_records
    from automatic_data_validator_spark.sources import write_sorted_table

    n = 80_000
    df = spark.range(n).select(
        F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
        (F.col("id") % 97).alias("v"),
    )
    sorted_p = str(tmp_path / "sorted")
    shuffled_p = str(tmp_path / "shuffled")
    write_sorted_table(df, sorted_p, "doc_id", num_files=8)
    df.repartition(8).write.parquet(shuffled_p)

    pred = F.col("doc_id") >= "doc-000000070000"  # top 1/8 of keys
    reads = {}
    counts = {}
    for name, p in (("sorted", sorted_p), ("shuffled", shuffled_p)):
        q = spark.read.parquet(p).filter(pred)
        # stage-id-scoped count: a global input_records diff flaked in
        # full-suite runs (straggler stages from earlier tests land in
        # the measured window)
        reads[name] = scan_records(
            spark, lambda q=q, n=name: counts.__setitem__(n, q.count())
        )
        assert counts[name] == 10_000
    plan = (
        spark.read.parquet(sorted_p).filter(pred)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "GreaterThanOrEqual(doc_id,doc-000000070000)" in plan.split(
        "PushedFilters: "
    )[1].splitlines()[0]
    # sorted: only the file(s) whose range intersects the predicate.
    # repartitionByRange SAMPLES its boundaries, so the cut may not
    # land on the predicate constant AND the files are slightly uneven
    # — in-suite RNG state once produced a 20,078-row top-2 (25.1%)
    # against a 2-of-8 (25.0%) bound. Allow 3 of 8 files: still
    # unambiguously O(selectivity), not the shuffled copy's 100%.
    assert reads["sorted"] <= 3 * n // 8, reads
    assert reads["shuffled"] >= int(n * 0.95), reads


def test_incremental_key_index_probe_prunes_files(spark, tmp_path):
    """PLANS §13 wired (round-5 VERDICT directive #2): the incremental
    key-location index is written RANGE-SORTED on doc_id and the
    increment's uniqueness probe narrows the index scan to the delta's
    [min, max] key range before joining. (a) Layout: a key-range
    predicate disjoint from the stored keys reads ZERO records from
    the index (footer min/max pruning; the predicate must reach the
    scan as a PushedFilter). (b) Wiring: an increment whose keys are
    disjoint from the corpus scans O(delta), never the corpus-sized
    index."""
    from automatic_data_validator_spark.incremental import (
        validate_incremental,
    )
    from scan_counters import scan_records
    from automatic_data_validator_spark.synth import (
        make_documents, make_media_catalog,
    )

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "state")
    n_corpus, n_delta = 40_000, 1_000
    cat = make_media_catalog(spark, 200, seed=42)
    make_documents(
        spark, n_corpus, n_media=200, seed=42, num_partitions=2
    ).write.mode("append").parquet(corpus)
    validate_incremental(spark, corpus, state, catalog=cat)

    # (a) the bootstrap index is laid out in disjoint doc_id ranges:
    # a range above every stored key ("doc-*" / "doc-hot-*") prunes
    # every file — 0 records read, and the predicate is pushed down
    idx = spark.read.parquet(f"{state}/key_index")
    pred = F.col("doc_id").between("zz-a", "zz-z")
    got = {}
    read_idx = scan_records(
        spark, lambda: got.__setitem__("n", idx.filter(pred).count())
    )
    assert got["n"] == 0
    assert read_idx == 0, (read_idx,)
    plan = idx.filter(pred)._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    assert "GreaterThanOrEqual(doc_id,zz-a)" in pushed, pushed
    assert "LessThanOrEqual(doc_id,zz-z)" in pushed, pushed

    # (b) end to end: a disjoint-key append's whole increment reads a
    # few passes over the DELTA plus stores — the 40k-row index scan
    # is pruned to ~0 (unpruned it alone would add n_corpus records)
    make_documents(
        spark, n_delta, n_media=200, seed=43, num_partitions=1
    ).withColumn(
        "doc_id", F.concat(F.lit("zz-"), F.col("doc_id"))
    ).write.mode("append").parquet(corpus)
    spark.catalog.clearCache()
    res = {}
    read = scan_records(
        spark,
        lambda: res.__setitem__(
            "r", validate_incremental(spark, corpus, state, catalog=cat)
        ),
    )
    assert res["r"].delta_rows == n_delta
    assert read <= 10 * n_delta + 5_000, (read,)
