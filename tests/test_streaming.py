"""Streaming wrapper: rule evaluation per micro-batch, watermarked
windowed quality agg."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from fixtures import grid_sketch

from automatic_data_validator_spark import rules as R
from automatic_data_validator_spark.streaming import validate_stream, windowed_quality


def test_validate_stream_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # seed two files of documents-like rows (doc_id, n_chars)
    spark.createDataFrame(
        [("d1", 10), ("d2", -5), ("d3", 7)], "doc_id string, n_chars int"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id string, n_chars int").parquet(src)
    rules = [
        R.Rule("not_null_doc_id", "not_null", column="doc_id"),
        R.Rule("positive_chars", "expr", expr="n_chars > 0"),
    ]
    q = validate_stream(stream, rules, out, ck, trigger_seconds=None)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    viol = spark.read.parquet(out + "/violations")
    rows = {(r["doc_id"], r["rule_id"]) for r in viol.collect()}
    assert rows == {("d2", "positive_chars")}
    verd = spark.read.parquet(out + "/verdicts")
    assert verd.filter("rule_id = 'positive_chars' and violation_count > 0").count() >= 1


def test_windowed_quality_batch_semantics(spark):
    # semantics check on a static frame via the same expressions
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:00:10", "2024-01-01 00:00:40",
                                  "2024-01-01 00:01:10"]),
            "text": ["hello world", "", "one two three"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        df.groupBy(F.window("ts", "1 minute").alias("window"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("text") == "").cast("long")).alias("n_empty"),
        )
        .orderBy("window")
        .collect()
    )
    assert [r["n_docs"] for r in out] == [2, 1]
    assert [r["n_empty"] for r in out] == [1, 0]


def test_windowed_quality_streaming_plan_builds(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 10).load()
        .select(F.col("timestamp").alias("ts"), F.lit("some text here").alias("text"))
    )
    wq = windowed_quality(stream, "ts")
    assert wq.isStreaming  # plan resolves with watermark + window


def test_stateful_uniqueness_across_batches(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: a doc_id
    repeated in a LATER micro-batch must still fire (per-batch checks
    cannot see it)."""
    from automatic_data_validator_spark.streaming import stateful_uniqueness

    src = str(tmp_path / "src_state")
    ck = str(tmp_path / "ck_state")
    import os

    os.makedirs(src, exist_ok=True)
    schema = "doc_id string, n int"
    # batch 1: d1, d2, d2 (in-batch dup); batch 2: d1 again (cross-batch dup)
    spark.createDataFrame([("d1", 1), ("d2", 1), ("d2", 2)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = stateful_uniqueness(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("uniq_state")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame([("d1", 3), ("d9", 1)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r["doc_id"], r["total_occurrences"])
            for r in spark.sql("SELECT * FROM uniq_state").collect()}
    assert ("d2", 2) in rows          # in-batch duplicate
    assert ("d1", 2) in rows          # cross-batch duplicate (needs state)
    assert not any(d == "d9" for d, _n in rows)


def test_validate_stream_sink_idempotent_on_replay(spark, tmp_path):
    """Re-processing the same micro-batch (fresh stream checkpoint,
    same output dir — the crash-replay shape) must not duplicate
    verdict/violation rows: each batch overwrites its own partition."""
    src = str(tmp_path / "src_r")
    out = str(tmp_path / "out_r")
    spark.createDataFrame(
        [("d1", 10), ("d2", -5)], "doc_id string, n_chars int"
    ).coalesce(1).write.parquet(src)
    rules = [R.Rule("positive_chars", "expr", expr="n_chars > 0")]
    for attempt in range(2):  # second run replays batch 0 into the same sink
        stream = spark.readStream.schema("doc_id string, n_chars int").parquet(src)
        q = validate_stream(stream, rules, out, str(tmp_path / f"ck_r{attempt}"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    viol = spark.read.parquet(out + "/violations")
    assert viol.count() == 1  # not 2: replay overwrote, not appended
    verd = spark.read.parquet(out + "/verdicts")
    assert verd.filter("rule_id = 'positive_chars'").count() == \
        verd.select("partition_id").distinct().count()


def test_referential_stream_flags_dangling_refs(spark, tmp_path, docs, catalog):
    """Stream-static anti join: the streaming referential check must
    flag exactly the batch check's dangling (doc, ref) pairs."""
    from automatic_data_validator_spark.refcheck import distinct_refs
    from automatic_data_validator_spark.streaming import referential_stream

    src = str(tmp_path / "stream_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = referential_stream(stream, catalog)
    q = (
        out.writeStream.format("memory")
        .queryName("ref_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["media_ref"])
        for r in spark.sql("SELECT * FROM ref_stream_test").collect()
    }
    cat_refs = {r["media_ref"] for r in catalog.select("media_ref").collect()}
    batch = {
        (r["doc_id"], r["media_ref"])
        for r in distinct_refs(docs).collect()
        if r["media_ref"] not in cat_refs
    }
    assert got == batch and got


def test_drift_stream_flags_shifted_batch(spark, tmp_path):
    """Streaming drift vs a persisted baseline: an in-distribution
    micro-batch reports no drift, a mean-shifted one fires — per-batch
    rows land partitioned by batch_id (round-4: fifth stream family)."""
    import numpy as np
    import pandas as pd

    from automatic_data_validator_spark.drift import save_baseline
    from automatic_data_validator_spark.streaming import drift_stream

    rng = np.random.RandomState(42)
    base_vals = rng.normal(10.0, 1.0, 20_000)
    save_baseline(
        {"x": grid_sketch(base_vals)}, spark, str(tmp_path / "baseline")
    )

    src = str(tmp_path / "in")
    spark.createDataFrame(
        pd.DataFrame({"x": rng.normal(10.0, 1.0, 5_000)})
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("x double").parquet(src)
    q = drift_stream(
        stream, str(tmp_path / "baseline"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), columns=["x"],
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            pd.DataFrame({"x": rng.normal(14.0, 1.0, 5_000)})
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(str(tmp_path / "out") + "/drift").orderBy("batch_id")
    rows = out.collect()
    assert len(rows) == 2
    assert rows[0]["column"] == "x" and rows[0]["drifted"] is False
    assert rows[1]["drifted"] is True and rows[1]["ks"] > 0.3
    # reason + n_current ride through (r5): ordinary stats drift must
    # stay distinguishable from an empty_sketch data-loss batch
    assert rows[1]["reason"] == "stats" and rows[1]["n_current"] == 5_000


def test_drift_stream_misconfigured_column_fails(spark, tmp_path):
    """Explicit columns naming a column the batch has but the baseline
    lacks stop the query with the batch path's "do not intersect ...
    misconfigured" error, instead of writing no drift rows, silently,
    on every batch."""
    import numpy as np
    import pandas as pd
    from pyspark.errors import StreamingQueryException

    from automatic_data_validator_spark.drift import save_baseline
    from automatic_data_validator_spark.streaming import drift_stream

    rng = np.random.RandomState(5)
    save_baseline(
        {"x": grid_sketch(rng.normal(10.0, 1.0, 1_000))},
        spark, str(tmp_path / "baseline"),
    )
    src = str(tmp_path / "in")
    spark.createDataFrame(
        pd.DataFrame({"x": rng.normal(10.0, 1.0, 500),
                      "y": rng.normal(0.0, 1.0, 500)})
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("x double, y double").parquet(src)
    q = drift_stream(
        stream, str(tmp_path / "baseline"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), columns=["y"],
    )
    try:
        with pytest.raises(StreamingQueryException) as ei:
            q.processAllAvailable()
    finally:
        q.stop()
    assert "do not intersect" in str(ei.value)
    assert "misconfigured" in str(ei.value)
    assert not (tmp_path / "out" / "drift").exists()


def test_neardup_stream_cross_batch_pairs(spark, tmp_path):
    """Stream-ingest near-dup (sixth stream family): a pair planted
    INSIDE batch 1 is found at batch 1; a doc arriving in batch 2 that
    near-matches a batch-1 doc is found at batch 2 via the persisted
    banded store — the corpus is never re-signed (scan budget pinned
    batch-side by tests/test_incremental-style store reuse)."""
    from automatic_data_validator_spark.synth import make_neardup_corpus
    from automatic_data_validator_spark.streaming import neardup_stream

    # batch 1: 200 docs, ids dd-0/dd-1 are a planted near-dup pair
    batch1 = make_neardup_corpus(spark, 200, 2, seed=7)
    # batch 2: a near-copy of dd-000000000002 (batch-1 doc, jaccard ~1
    # minus one word) + 50 unrelated docs from a disjoint seed stream
    b1_rows = {r["doc_id"]: r["text"] for r in batch1.collect()}
    near_old = b1_rows["dd-000000000002"].rsplit(" ", 1)[0] + " ZZNEW"
    unrelated = make_neardup_corpus(spark, 50, 0, seed=99).select(
        F.concat(F.lit("n2-"), "doc_id").alias("doc_id"), "text"
    )
    batch2 = unrelated.unionByName(
        spark.createDataFrame([("zz-newdoc", near_old)], "doc_id string, text string")
    )

    src = str(tmp_path / "in")
    batch1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id string, text string").parquet(src)
    q = neardup_stream(
        stream, str(tmp_path / "corpus"), str(tmp_path / "state"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        batch2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    pairs = spark.read.parquet(str(tmp_path / "out") + "/pairs")
    got = {
        (r["id_a"], r["id_b"]): r["batch_id"] for r in pairs.collect()
    }
    # in-batch pair at batch 0, cross-batch (new-old) pair at batch 1
    assert got == {
        ("dd-000000000000", "dd-000000000001"): 0,
        ("dd-000000000002", "zz-newdoc"): 1,
    }, got
    # the persisted corpus holds both batches, partitioned by batch_id
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    assert corpus.count() == 251
    assert set(r["batch_id"] for r in corpus.select("batch_id").distinct().collect()) == {0, 1}


def test_drift_stream_grouped_cohorts(spark, tmp_path):
    """Cohort drift per micro-batch (group_by=): a shifted cohort fires
    while the other cohort in the SAME batch stays green — and a
    cohort missing from a batch fires missing_in_current."""
    import numpy as np
    import pandas as pd

    from automatic_data_validator_spark.drift import save_grouped_baseline
    from automatic_data_validator_spark.streaming import drift_stream

    rng = np.random.RandomState(7)
    save_grouped_baseline(
        {"A": {"x": grid_sketch(rng.normal(10.0, 1.0, 20_000))},
         "B": {"x": grid_sketch(rng.normal(20.0, 1.0, 20_000))}},
        spark, str(tmp_path / "baseline"),
    )

    src = str(tmp_path / "in")
    # batch 1: both cohorts in-distribution
    pd1 = pd.DataFrame({
        "cohort": ["A"] * 4000 + ["B"] * 4000,
        "x": np.concatenate([rng.normal(10.0, 1.0, 4000),
                             rng.normal(20.0, 1.0, 4000)]),
    })
    spark.createDataFrame(pd1).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("cohort string, x double").parquet(src)
    q = drift_stream(
        stream, str(tmp_path / "baseline"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), columns=["x"], group_by="cohort",
    )
    try:
        q.processAllAvailable()
        # batch 2: cohort A shifts, cohort B VANISHES
        pd2 = pd.DataFrame({"cohort": ["A"] * 4000,
                            "x": rng.normal(14.0, 1.0, 4000)})
        spark.createDataFrame(pd2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out") + "/drift_grouped")
    rows = {(r["batch_id"], r["group"]): r for r in out.collect()}
    assert not rows[(0, "A")]["drifted"] and not rows[(0, "B")]["drifted"]
    a2 = rows[(1, "A")]
    assert a2["drifted"] and a2["reason"] == "stats" and a2["ks"] > 0.3
    b2 = rows[(1, "B")]
    assert b2["drifted"] and b2["reason"] == "missing_in_current"
    assert b2["n_current"] == 0


def test_neardup_stream_replay_converges_not_wedges(spark, tmp_path):
    """Round-5 review fix: a replayed micro-batch must NOT rewrite its
    corpus partition (fresh part-file names would trip the incremental
    manifest's append-only contract and wedge the stream forever).
    Simulate replay by deleting the streaming checkpoint and
    re-running the query over the same source, corpus, and state dirs:
    batch 0 is reprocessed, the corpus write is skipped, and the pair
    output converges to the same rows."""
    from automatic_data_validator_spark.synth import make_neardup_corpus
    from automatic_data_validator_spark.streaming import neardup_stream

    src = str(tmp_path / "in")
    make_neardup_corpus(spark, 200, 2, seed=7).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run_once(ckpt):
        stream = spark.readStream.schema("doc_id string, text string").parquet(src)
        q = neardup_stream(
            stream, str(tmp_path / "corpus"), str(tmp_path / "state"),
            str(tmp_path / "out"), ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once(str(tmp_path / "ckpt1"))
    corpus_files = sorted(
        spark.read.parquet(str(tmp_path / "corpus")).inputFiles()
    )
    # fresh checkpoint -> Structured Streaming replays the source as
    # batch 0 against the SAME corpus/state dirs
    run_once(str(tmp_path / "ckpt2"))
    # corpus partition untouched (same part-files, no append-only trip)
    assert sorted(
        spark.read.parquet(str(tmp_path / "corpus")).inputFiles()
    ) == corpus_files
    pairs = spark.read.parquet(str(tmp_path / "out") + "/pairs").collect()
    assert [(r["id_a"], r["id_b"], r["batch_id"]) for r in pairs] == [
        ("dd-000000000000", "dd-000000000001", 0)
    ]


def test_neardup_stream_partial_corpus_write_recovers(spark, tmp_path):
    """A crash mid corpus-write leaves a partial batch_id=N dir with no
    _committed marker. Directory existence must NOT be read as a
    commit: the replay deletes the partial partition and rewrites it
    (the manifest has never seen those files — incremental_neardup
    only runs after the marker), so no document is silently dropped
    from the corpus or the banded store. A marker-LESS partition whose
    files the manifest DOES know (pre-marker layout) is adopted as
    committed instead of rewritten."""
    import os

    from automatic_data_validator_spark.synth import make_neardup_corpus
    from automatic_data_validator_spark.streaming import neardup_stream

    src = str(tmp_path / "in")
    docs = make_neardup_corpus(spark, 200, 2, seed=7).coalesce(1)
    docs.write.mode("append").parquet(src)

    # simulate the crashed partial write: one doc of the near-dup pair
    # present, everything else missing, no _committed marker
    docs.filter("doc_id = 'dd-000000000000'").select("doc_id", "text").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "corpus" / "batch_id=0"))

    def run_once(ckpt):
        stream = spark.readStream.schema("doc_id string, text string").parquet(src)
        q = neardup_stream(
            stream, str(tmp_path / "corpus"), str(tmp_path / "state"),
            str(tmp_path / "out"), ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once(str(tmp_path / "ckpt1"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    assert corpus.count() == 200  # partial partition was rewritten whole
    pairs = spark.read.parquet(str(tmp_path / "out") + "/pairs").collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [
        ("dd-000000000000", "dd-000000000001")
    ]
    marker = str(tmp_path / "corpus" / "batch_id=0" / "_committed")
    assert os.path.exists(marker)

    # pre-marker committed layout: marker gone but the manifest knows
    # the partition's files -> adopt, never rewrite (append-only safe)
    os.remove(marker)
    files_before = sorted(corpus.inputFiles())
    run_once(str(tmp_path / "ckpt2"))
    assert sorted(
        spark.read.parquet(str(tmp_path / "corpus")).inputFiles()
    ) == files_before
    assert os.path.exists(marker)
