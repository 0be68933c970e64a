"""Structured Streaming wrapper.

The reference is batch-only and so is north_rule (snapshot-checkpointed
scans) — SURVEY.md §2.10. But because every check in this engine is a
commutative partial aggregation (per-partition verdict counts, rule
predicates, mergeable sketches), wrapping them for streams needs no new
operator code: ``foreachBatch`` applies the SAME row-level rule
evaluation to each micro-batch and appends verdicts/violations to the
sink, keyed by batch id. This module is that thin wrapper plus a
watermarked windowed-quality aggregation for late data.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import rules as R
from .session import local_frame
from .sources import parquet_writer


def _write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """The module's ONE idempotent-replay sink recipe: partition by
    batch_id + dynamic partition overwrite, so a micro-batch replayed
    after a crash rewrites ITS partition instead of appending duplicate
    rows (foreachBatch requires idempotent sinks for exactly-once)."""
    parquet_writer(
        df.withColumn("batch_id", F.lit(batch_id)), partition_by="batch_id"
    ).option("partitionOverwriteMode", "dynamic").parquet(path)


def _start_foreach(stream_df: DataFrame, process_batch, checkpoint_dir: str,
                   trigger_seconds: "int | None"):
    """Shared writeStream tail: foreachBatch + checkpoint + optional
    processing-time trigger; returns the started StreamingQuery."""
    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def validate_stream(
    stream_df: DataFrame,
    rule_set: list[R.Rule],
    output_dir: str,
    checkpoint_dir: str,
    key_column: str = "doc_id",
    trigger_seconds: int | None = None,
):
    """Attach batch rule evaluation to a streaming DataFrame.

    Each micro-batch runs the identical single-pass rule evaluation
    (rules.evaluate_row_rules) and appends:
      {output_dir}/verdicts    (batch_id, partition_id, rule_id, ...)
      {output_dir}/violations  (batch_id, doc_id, rule_id, ...)
    Returns the StreamingQuery.
    """
    row_rules = R.row_level(rule_set)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts, violations = R.evaluate_row_rules(batch_df, row_rules, key_column)
        for df, name in ((verdicts, "verdicts"), (violations, "violations")):
            _write_batch_partition(df, f"{output_dir}/{name}", batch_id)

    return _start_foreach(stream_df, process_batch, checkpoint_dir, trigger_seconds)


def stateful_uniqueness(
    stream_df: DataFrame,
    key_col: str = "doc_id",
) -> DataFrame:
    """CROSS-batch uniqueness violations via a custom stateful operator
    (``applyInPandasWithState`` — the Structured Streaming surface for
    operators Spark lacks built-in). State per key = occurrences seen
    so far; whenever a micro-batch pushes a key's running total past 1,
    one row (key, total_occurrences) is emitted. Batch-mode uniqueness
    (dedup.uniqueness_check) cannot see across micro-batches; this can.

    State is one bigint per distinct key, partitioned by the groupBy —
    at 10^12 keys use RocksDB state store + watermark-scoped keys; the
    operator itself is shuffle-once (the groupBy) per micro-batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        import pandas as pd

        n_new = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n_new
        state.update((total,))
        if total > 1:
            yield pd.DataFrame({key_col: [key[0]], "total_occurrences": [total]})

    return stream_df.select(key_col).groupBy(key_col).applyInPandasWithState(
        track,
        outputStructType=f"{key_col} string, total_occurrences long",
        stateStructType="occurrences long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_quality(
    stream_df: DataFrame,
    ts_col: str,
    text_col: str = "text",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-window text-quality aggregation (late data
    handled by the watermark): returns a streaming DataFrame of
    (window, n_docs, avg_words, n_empty). n_empty counts
    whitespace-only docs too, consistent with word_count's trim."""
    from .textops import word_count

    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg(word_count(text_col)).alias("avg_words"),
            F.sum((F.trim(F.col(text_col)) == "").cast("long")).alias("n_empty"),
        )
    )


def referential_stream(
    stream_df: DataFrame,
    catalog: DataFrame,
    spans_col: str = "spans",
) -> DataFrame:
    """Streaming referential check: dangling media_ref rows as a
    STREAMING DataFrame, via a stream-static left-anti join against the
    (batch) catalog — completing the fourth check family for streams
    (rules/foreachBatch, cross-batch uniqueness, windowed quality,
    referential).

    Structured Streaming re-plans the static side per micro-batch, so a
    catalog refreshed in place is picked up without restarting the
    query. Same pruning-friendly extraction as the batch path
    (refcheck.distinct_refs): only spans.media_ref is read from the
    source. Returns (doc_id, media_ref) dangling rows; attach any sink
    (violations land one row per doc x distinct dangling ref, matching
    batch semantics).
    """
    from .refcheck import media_refs_expr

    refs = stream_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(media_refs_expr(spans_col)).alias("media_ref"),
    )
    return refs.join(
        F.broadcast(catalog.select("media_ref").distinct()),
        "media_ref",
        "left_anti",
    ).select("doc_id", "media_ref")


def drift_stream(
    stream_df: DataFrame,
    baseline_path: str,
    output_dir: str,
    checkpoint_dir: str,
    columns: "list[str] | None" = None,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    trigger_seconds: int | None = None,
    group_by: "str | None" = None,
):
    """Per-micro-batch distribution drift vs a PERSISTED baseline
    snapshot — the fifth check family for streams (after rules,
    cross-batch uniqueness, windowed quality, referential). A stream
    is a table's sequence of appends, so each micro-batch runs the
    batch drift path unchanged inside ``foreachBatch``: the config
    guard (drift.resolve_drift_config), the quantile-grid aggregate
    (drift.sketch_columns, one JVM aggregate, no Python worker) and the
    comparison (drift.drift_report_sketches).

    Each micro-batch is sketched and compared column-by-column against
    the baseline saved by ``drift.save_baseline`` (re-loaded per batch,
    so a refreshed baseline is picked up without restarting the query —
    same semantics as referential_stream's static side), and one row
    per column lands in ``{output_dir}/drift`` partitioned by
    batch_id with dynamic-overwrite (idempotent on replay, like
    validate_stream). A misconfigured check (explicit ``columns`` the
    baseline or batch lacks, or no common column) raises in the batch
    and stops the query. Returns the StreamingQuery.

    ``group_by``: COHORT drift per micro-batch — the baseline must be
    a ``drift.save_grouped_baseline`` file and each batch is sketched
    per (group, column) (the batch-side drift_group_by phase's
    semantics, streamed): one row per (group, column) lands in
    ``{output_dir}/drift_grouped`` instead, so a drifted cohort
    surfaces even when the batch's table-level mixture is stable, and
    a cohort missing from the batch fires reason=missing_in_current
    (a vanished cohort IS drift).
    """
    from .drift import (
        drift_report_sketches,
        resolve_drift_config,
        sketch_columns,
    )

    grouped = group_by is not None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        baseline, cols = resolve_drift_config(
            spark, baseline_path, batch_df, columns, group_by
        )
        report = drift_report_sketches(
            sketch_columns(batch_df, cols, group_by=group_by), baseline, cols,
            ks_threshold=ks_threshold, psi_threshold=psi_threshold,
        )
        # carry `reason` + `n_current` through: an empty_sketch row
        # (total data loss in the batch — the severest drift case)
        # must stay distinguishable from ordinary stats drift in the
        # parquet output, and NaN ks alone can't tell them apart
        out = local_frame(
            spark,
            [
                (r["group"], r["column"], float(r["ks"]), float(r["psi"]),
                 bool(r["drifted"]), str(r["reason"]), int(r["n_current"]))
                for r in report
            ],
            "group string, column string, ks double, psi double, "
            "drifted boolean, reason string, n_current long",
        )
        _write_batch_partition(
            out if grouped else out.drop("group"),
            f"{output_dir}/{'drift_grouped' if grouped else 'drift'}",
            batch_id,
        )

    return _start_foreach(stream_df, process_batch, checkpoint_dir, trigger_seconds)


def neardup_stream(
    stream_df: DataFrame,
    corpus_dir: str,
    state_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    trigger_seconds: int | None = None,
    **neardup_params,
):
    """Stream-ingest near-duplicate detection — the sixth stream check
    family: each micro-batch is persisted into ``corpus_dir``
    (partitioned by batch_id) and handed to
    ``dedup.incremental_neardup``, which MinHash-signs ONLY the
    batch's files and finds candidates against the persisted
    (_id, band, bucket) store — new-new pairs inside the batch plus
    new-old pairs against everything ingested before, without ever
    re-signing the corpus (the LSH co-bucket argument in
    incremental_neardup's docstring). The batch's verified pairs land
    in ``{output_dir}/pairs`` partitioned by batch_id; combined
    oversize buckets in ``{output_dir}/oversize_buckets``. Empty
    frames are not written, so each output directory appears with the
    first non-empty batch (read with an explicit schema if consuming
    earlier). The per-batch cost excludes the connected-components
    pass (``skip_drop_list``): derive the drop list on demand with
    ``dedup.dedup_keep_representatives`` over the pair store
    (``incremental_neardup(...).pairs``).

    Replay semantics: the corpus write is SKIPPED when the batch's
    partition already exists — rewriting it would mint fresh
    part-file names and delete the old ones, and once
    incremental_neardup's manifest knows those files a rewrite would
    trip its append-only contract on every retry, wedging the stream.
    With the skip, a replayed batch re-runs incremental_neardup over
    zero new files (a no-op increment) and the pair output is
    re-derived from the pair STORE by increment id, so ``{output_dir}/
    pairs`` converges to the same rows the first attempt would have
    written. ``neardup_params`` pass through (num_hashes, bands,
    shingle_k, max_bucket_size, broadcast_limit); LSH parameters are
    pinned in the state manifest, so changing them mid-stream raises
    rather than silently mixing signature spaces.
    """
    from . import fsio
    from .dedup import incremental_neardup
    from .incremental import _load_state

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        part = f"{corpus_dir}/batch_id={batch_id}"
        # _committed is written only AFTER the partition write finishes
        # (underscore prefix = invisible to Spark readers). Bare
        # directory existence is NOT a commit signal: a crash mid-job
        # leaves a partial batch_id=N dir, and skipping the write on
        # its existence would silently drop the batch's missing rows
        # from the corpus and the banded store forever.
        marker = f"{part}/_committed"
        committed = fsio.exists(marker)
        if not committed and fsio.exists(part):
            # no marker: either a crashed partial write (manifest has
            # never seen the files — incremental_neardup only runs
            # after the marker) or a pre-marker layout whose files the
            # manifest DOES know; rewriting the latter would mint new
            # part-file names and trip the append-only contract.
            # Part-file names are unique, so "batch_id=N/<file>" names
            # a manifest entry whatever the path's scheme.
            names = {f"batch_id={batch_id}/{e.name}" for e in fsio.ls(part)}
            known = _load_state(state_dir, "neardup_manifest").manifest["files"]
            if any("/".join(f.rsplit("/", 2)[-2:]) in names for f in known):
                committed = True  # adopted pre-marker committed layout
            else:
                fsio.delete(part)  # partial write; manifest unaware
        if not committed:
            _write_batch_partition(
                batch_df.select(id_col, text_col), corpus_dir, batch_id
            )
        fsio.write_once(marker, "", overwrite=True)
        res = incremental_neardup(
            spark, corpus_dir, state_dir,
            id_col=id_col, text_col=text_col,
            jaccard_threshold=jaccard_threshold, skip_drop_list=True,
            **neardup_params,
        )
        # by INCREMENT id from the store, not res.new_pairs: on a
        # replayed batch (partition already existed, zero new files)
        # new_pairs is empty while the store still holds the first
        # attempt's pairs under the increment that covered this batch
        batch_pairs = res.pairs.filter(
            F.col("increment") == F.lit(res.increment)
        ).select("id_a", "id_b", "jaccard")
        for df, name in (
            (batch_pairs, "pairs"),
            (res.oversize_buckets, "oversize_buckets"),
        ):
            if df.isEmpty():
                continue  # a 0-row partitioned write emits only
                # _SUCCESS and makes the whole directory unreadable
                # until a real row arrives
            _write_batch_partition(df, f"{output_dir}/{name}", batch_id)

    return _start_foreach(stream_df, process_batch, checkpoint_dir, trigger_seconds)
