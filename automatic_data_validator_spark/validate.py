"""End-to-end validation run: the engine's flagship entry point.

Pipeline (each phase checkpointable, resumable via state.Checkpointer):

  phase "row_rules"    — all row-level rules in one scan -> per-partition
                         verdicts + violation rows (rules.py)
  phase "uniqueness"   — two-phase salted doc_id dedup (dedup.py)
  phase "referential"  — media_ref anti-join vs catalog (refcheck.py)
  phase "profile"      — single-pass column stats -> metrics rows
  phase "drift"        — KS/PSI vs a baseline sketch snapshot
                         (opt-in via drift_baseline; drift.py)

Outputs: ``verdicts`` / ``violations`` / ``metrics`` / ``lineage``
DataFrames (written as parquet when a checkpoint dir is given). This is
the Spark-native equivalent of the reference's
upload→profile→validate loop (app.py:202-501) with the eager pandas
passes replaced by four lazy plans.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config, dedup, refcheck, rules as R
from .profile import (
    _merge_quantiles,
    build_partial_profile,
    finalize_partial_profile,
    profile_partitioned,
    profile_quantiles,
)
from .session import local_frame
from .state import Checkpointer, lineage_from_verdicts

DEFAULT_RULES: list[R.Rule] = [
    R.Rule("not_null_doc_id", "not_null", column="doc_id"),
    R.Rule("not_null_spans", "expr", expr="spans is not null and size(spans) > 0"),
    R.Rule("span_order", "span_order", column="spans"),
    R.Rule("span_shape", "span_shape", column="spans"),
]


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    metrics: DataFrame | None = None
    lineage: DataFrame | None = None

    def passed(self) -> bool:
        return self.verdicts.filter(~F.col("pass")).limit(1).count() == 0


def run_validation(
    spark: SparkSession,
    documents: DataFrame,
    catalog: DataFrame | None = None,
    rule_set: list[R.Rule] | None = None,
    key_column: str = "doc_id",
    checkpoint_dir: str | None = None,
    snapshot_id: str = "snap-0",
    rule_version: str = "v1",
    with_profile: bool = True,
    check_uniqueness: bool = True,
    verdict_spill_threshold: int = 100_000,
    drift_baseline: "dict | str | None" = None,
    drift_columns: "list[str] | None" = None,
    drift_ks_threshold: float = 0.1,
    drift_psi_threshold: float = 0.2,
    drift_signals: "Any | None" = None,
    drift_group_by: "str | None" = None,
) -> ValidationResult:
    """See module docstring. verdict_spill_threshold: when the input
    has more partitions than this, per-partition verdicts are NOT
    collected to the driver (at 10^12 docs / 128MB splits that is ~8M
    partitions x rules rows) — they stay DataFrames, phase verdicts are
    built with cluster-side joins (rules.distributed_verdicts), and
    lineage carries one per-rule aggregate row per phase instead of one
    row per partition."""
    rule_set = rule_set if rule_set is not None else list(DEFAULT_RULES)
    if snapshot_id == "auto":
        from .state import snapshot_of

        snapshot_id = snapshot_of(documents)
        if snapshot_id == "snap-inline" and checkpoint_dir:
            # file-less input (in-memory relation): every dataset would
            # hash to the same constant, so a stale checkpoint could be
            # silently reused for DIFFERENT data — refuse instead
            raise ValueError(
                "snapshot_id='auto' cannot fingerprint a file-less input; "
                "pass an explicit snapshot_id when checkpointing in-memory "
                "DataFrames"
            )
    ckpt = (
        Checkpointer(checkpoint_dir, snapshot_id, rule_version)
        if checkpoint_dir
        else None
    )
    import threading

    # spill mode: never hold one-row-per-partition verdicts on the
    # driver. The decision only needs the input's SCALE, so use the
    # already-listed file inventory (driver-side metadata, no plan
    # conversion) as the partition-count proxy; the DataFrame->RDD
    # round-trip the old check forced is measurable driver work against
    # ~8M-file listings (round-2 VERDICT wrong-list #4). File-less
    # inputs (in-memory relations) are small by construction — fall
    # back to the exact partition count for them.
    try:
        n_files = len(documents.inputFiles())
    except Exception:
        n_files = 0
    if n_files == 0:
        n_input_units = documents.rdd.getNumPartitions()
    else:
        # large splittable files yield more partitions than files —
        # bound below by the optimizer's size estimate (already
        # computed from the cached file listing, no extra IO) divided
        # by the split size (round-3 review finding: a 50k x 1GB-file
        # dataset splits into ~400k partitions)
        try:
            size_bytes = int(
                documents._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            max_split = int(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            )
            n_input_units = max(n_files, size_bytes // max(max_split, 1))
        except Exception:
            n_input_units = n_files
    spill = n_input_units > verdict_spill_threshold

    verdict_dfs: list[DataFrame] = []
    violation_parts: list[DataFrame] = []
    lineage_parts: list[DataFrame] = []
    # exact violation ROW count per phase (default mode): the verdict
    # sum, except where a phase's verdicts count something else
    violation_rows: dict[str, int | None] = {}
    _acc_lock = threading.Lock()

    def run_phase(name: str, fn) -> DataFrame:
        """Run or resume one phase; returns the phase's verdicts.

        Default mode: verdicts are tiny (one row per partition x rule),
        collected ONCE and rebuilt as a JVM LocalRelation
        (``session.local_frame``), so later consumers never re-trigger
        the full input scan and no action on them starts a Python
        worker. Spill mode: verdicts stay distributed (persisted or
        checkpointed), and lineage gets per-rule aggregate rows
        (partition_id null).
        Violation rows stay lazy unless checkpointing is on (then they
        are written+read-back, i.e. materialized exactly once).
        """
        v_rows: list[tuple] | None = None
        if ckpt and ckpt.is_done(name):
            vdf = ckpt.read(spark, name, "verdicts")
            # lineage carries the ORIGINAL phase cost, not the resume cost
            duration_s = ckpt.duration_of(name)
            violations = ckpt.read(spark, name, "violations")
            if not spill:
                v_rows = [tuple(r) for r in vdf.collect()]
                vdf = local_frame(spark, v_rows, R.VERDICT_SCHEMA)
        else:
            import time as _time

            t0 = _time.perf_counter()
            vdf, violations = fn()
            if not spill:
                v_rows = [tuple(r) for r in vdf.collect()]
                vdf = local_frame(spark, v_rows, R.VERDICT_SCHEMA)
            else:
                vdf = vdf.persist()
            duration_s = round(_time.perf_counter() - t0, 3)
            if ckpt:
                ckpt.write(name, "verdicts", vdf)
                ckpt.write(name, "violations", violations)
                if spill:
                    vdf.unpersist()  # parquet read-back replaces the cache
                vdf = ckpt.read(spark, name, "verdicts")
                violations = ckpt.read(spark, name, "violations")
                ckpt.mark_done(name, duration_s=duration_s)
        if spill:
            # tiny per-rule aggregate for lineage; full verdicts stay lazy
            l_rows = [
                (None, r["rule_id"], int(r["rc"]), int(r["vc"]))
                for r in vdf.groupBy("rule_id")
                .agg(F.sum("row_count").alias("rc"),
                     F.sum("violation_count").alias("vc"))
                .collect()
            ]
        else:
            l_rows = v_rows
        with _acc_lock:
            if v_rows is not None:
                violation_rows.setdefault(name, sum(r[3] for r in v_rows))
            violation_parts.append(violations)
            verdict_dfs.append(vdf)
            lineage_parts.append(
                lineage_from_verdicts(spark, l_rows, name, snapshot_id,
                                      rule_version, duration_s=duration_s)
            )
        return vdf

    row_rules = R.row_level(rule_set)
    partition_totals: dict[int, int] | DataFrame | None = None
    # Fused rules+profile scan (round-2 directive #1): the profiler's
    # algebraic partials ride in the row-rules per-partition aggregate,
    # so the separate full profile pass disappears — only quantiles (for
    # numeric columns; the flagship documents shape has none) need one
    # extra column-pruned pass. With no row-rules scan to ride (no row
    # rules, or resuming a checkpoint whose row_rules phase completed
    # and whose verdicts carry no partials) the SAME partial plan runs
    # as its own scan (profile_partitioned).
    fused_state: dict[str, Any] = {}
    use_fused = bool(
        with_profile
        and row_rules
        and not (ckpt and ckpt.is_done("profile"))
        and not (ckpt and ckpt.is_done("row_rules"))
    )
    # date-format probing is for string business columns, not ids —
    # skip (8 try_to_timestamp exprs/string col)
    fused_plan = (
        build_partial_profile(documents, detect_formats=False)
        if use_fused
        else None
    )

    def row_rules_fused():
        preds = [(r.rule_id, R.compile_rule(r, documents)) for r in row_rules]
        per_part = R.per_partition_rule_aggregate(
            documents, preds, fused_plan.exprs
        ).persist()
        fused_state["per_part"] = per_part
        vdf = R.verdicts_from_per_partition(per_part, [rid for rid, _ in preds])
        return vdf, R.violation_rows(documents, preds, key_column)

    # All phases are independent reads of the same input: submit them
    # CONCURRENTLY (Spark job submission is thread-safe). Sequential
    # phases leave executor slots idle during each phase's small final
    # stages; overlapping them keeps the cluster saturated — measured
    # wall-time win grows with core count. The uniqueness/referential
    # phases need the row-rules scan's per-partition totals ONLY to
    # assemble their verdict rows, never for their violation plans, so
    # they receive a BLOCKING CALLABLE resolved by the row-rules phase
    # and all three scans overlap in BOTH verdict modes (round 3;
    # previously row_rules ran to completion first): default mode
    # resolves to a dict, spill mode to a lazily-joined DataFrame over
    # the completed phase's verdicts.
    from concurrent.futures import Future, ThreadPoolExecutor

    totals_future: Future = Future()
    if row_rules:
        partition_totals = totals_future.result  # blocking callable
    elif spill:
        # no row-rules pass to reuse: build the totals distributed
        partition_totals = (
            documents.select(F.spark_partition_id().cast("int").alias("partition_id"))
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("row_count"))
        )

    rr_cell: dict[str, DataFrame] = {}

    def _rr_fn():
        vdf, viol = (
            row_rules_fused()
            if use_fused
            else R.evaluate_row_rules(documents, row_rules, key_column)
        )
        rr_cell["viol"] = viol
        return vdf, viol

    def row_rules_task():
        """Pool task: run the row-rules phase and publish its totals."""
        try:
            vdf = run_phase("row_rules", _rr_fn)
            totals = vdf.filter(F.col("rule_id") == row_rules[0].rule_id)
            totals_future.set_result(
                totals.select("partition_id", "row_count")
                if spill
                else {
                    int(r["partition_id"]): int(r["row_count"])
                    for r in totals.collect()
                }
            )
        except BaseException as e:
            totals_future.set_exception(e)
            raise
        # Materialize the row-rules violation rows NOW — strictly after
        # the totals future is published (the other phases block on it)
        # so this sparse filter scan overlaps the uniqueness/referential
        # scans instead of running serially when the caller first
        # writes res.violations (guide §2.6: fill the tail). The TOTAL
        # input-scan count is unchanged (the write-side scan moves into
        # the run; pinned by test_fused_run_cuts_input_scans) and only
        # the small violation row set is stored. Skipped in spill mode
        # (violations at 10^12-doc scale should stream to the caller's
        # sink, not into block storage) and under checkpointing (the
        # phase machinery already writes+reads-back violations there).
        raw = rr_cell.get("viol")
        if not spill and ckpt is None and raw is not None:
            ck = raw.localCheckpoint(eager=True)
            with _acc_lock:
                for i2, fr in enumerate(violation_parts):
                    if fr is raw:
                        violation_parts[i2] = ck
        return vdf

    tasks: list[tuple[str, Any]] = []
    if check_uniqueness or any(r.kind == "unique_key" for r in rule_set):
        uniq_rules = [r for r in rule_set if r.kind == "unique_key"] or [
            R.Rule("unique_doc_id", "unique_key", column=key_column)
        ]
        for ur in uniq_rules:
            tasks.append(
                (
                    f"uniqueness_{ur.rule_id}",
                    lambda ur=ur: dedup.uniqueness_check(
                        documents, ur.column or key_column, ur.rule_id,
                        partition_totals=partition_totals,
                        distributed=spill,
                    ),
                )
            )

    # explicit referential rules take precedence over the implicit
    # catalog-triggered check; requesting one WITHOUT a catalog is an
    # error, never a silent skip
    ref_rules = [r for r in rule_set if r.kind == "referential"]
    if ref_rules and catalog is None:
        raise ValueError(
            f"referential rule(s) {[r.rule_id for r in ref_rules]} require "
            "a catalog DataFrame"
        )
    if catalog is not None:
        for rr_rule in ref_rules or (
            [R.Rule("referential_media_ref", "referential", column="spans")]
            if "spans" in documents.columns
            else []
        ):
            spans_col = rr_rule.column or "spans"
            phase = (
                f"referential_{rr_rule.rule_id}" if ref_rules else "referential"
            )

            def referential_phase(rr_rule=rr_rule, spans_col=spans_col,
                                  phase=phase):
                # verdicts count distinct (partition, doc) pairs; the
                # row count comes from the check's own pin
                vdf, viol, violation_rows[phase] = (
                    refcheck.referential_check_counted(
                        documents, catalog, spans_col=spans_col,
                        rule_id=rr_rule.rule_id,
                        partition_totals=partition_totals,
                        distributed=spill,
                    )
                )
                return vdf, viol

            tasks.append((phase, referential_phase))

    # distribution-drift phase (north_rule's fourth check family): one
    # sketch pass (t-digest partials, two-level merge) compared vs the
    # baseline snapshot — table-level verdicts use partition_id = -1
    # (drift has no per-partition attribution) and one violation row
    # per drifted COLUMN (doc_id = the column name, detail = ks/psi/
    # reason). Rides the same phase machinery, so it checkpoints,
    # overlaps with the other scans, and lands in lineage/run_summary.
    if drift_baseline is not None:
        from . import drift as DR

        def drift_check():
            grouped = drift_group_by is not None
            baseline = (
                (
                    DR.load_grouped_baseline(spark, drift_baseline)
                    if grouped
                    else DR.load_baseline(spark, drift_baseline)
                )
                if isinstance(drift_baseline, str)
                else drift_baseline
            )
            # drift_signals: derive the frame to sketch (e.g.
            # drift.document_signals for the interleaved shape, which
            # has no plain numeric columns); default = the input table
            target = (
                drift_signals(documents) if drift_signals else documents
            )
            if grouped:
                # cohort drift (r5, round-4 VERDICT directive #5): the
                # baseline is {group: {column: sketch}}; one verdict /
                # violation per (group, column), so a drifted cohort
                # surfaces even when the table-level mixture is stable
                if drift_group_by not in target.columns:
                    raise ValueError(
                        f"drift phase: drift_group_by column "
                        f"'{drift_group_by}' is not in the signal frame "
                        f"columns {sorted(target.columns)} — pass "
                        "drift_signals that keeps it (e.g. "
                        "document_signals(keep=[...]))"
                    )
                base_cols = sorted(
                    {c for g in baseline.values() for c in g}
                )
                cols = drift_columns or sorted(
                    set(base_cols) & set(target.columns)
                )
                bad = [
                    c for c in cols
                    if c not in base_cols or c not in target.columns
                ]
                if not cols or bad:
                    raise ValueError(
                        f"drift phase: columns {bad or sorted(target.columns)} "
                        f"do not intersect grouped-baseline columns "
                        f"{base_cols} and target columns "
                        f"{sorted(target.columns)}"
                    )
                cur = DR.sketch_columns_by_group(
                    target, drift_group_by, cols
                )
                report = DR.grouped_drift_report_columns(
                    cur, baseline, cols,
                    ks_threshold=drift_ks_threshold,
                    psi_threshold=drift_psi_threshold,
                )
                v_rows, viol_rows = DR.drift_report_rows(
                    report, grouped=True
                )
                return (
                    local_frame(spark, v_rows, R.VERDICT_SCHEMA),
                    local_frame(spark, viol_rows, R.VIOLATION_SCHEMA),
                )
            cols = drift_columns or sorted(
                set(baseline) & set(target.columns)
            )
            # a misconfigured check (disjoint baseline, or explicit
            # drift_columns naming columns the baseline/target lack)
            # would otherwise emit ZERO verdicts for those columns —
            # indistinguishable from a passing check. Fail loudly.
            unmatched = [
                c for c in cols
                if c not in baseline or c not in target.columns
            ]
            if not cols or unmatched:
                raise ValueError(
                    "drift phase: columns "
                    f"{unmatched or sorted(target.columns)} do not "
                    f"intersect baseline columns {sorted(baseline)} "
                    f"and target columns {sorted(target.columns)}; "
                    "misconfigured baseline, drift_columns, or "
                    "drift_signals"
                )
            report = DR.drift_report(
                target, baseline, cols,
                ks_threshold=drift_ks_threshold,
                psi_threshold=drift_psi_threshold,
            )
            v_rows, viol_rows = DR.drift_report_rows(report)
            return (
                local_frame(spark, v_rows, R.VERDICT_SCHEMA),
                local_frame(spark, viol_rows, R.VIOLATION_SCHEMA),
            )

        tasks.append(("drift", drift_check))

    def profile_task():
        """Pool task: the run's ProfileResult."""
        if not use_fused:
            return profile_partitioned(documents, detect_formats=False)
        # partials ride the (possibly still running) row_rules scan;
        # only the column-pruned quantile pass reads the input again,
        # and it starts immediately
        quantiles = profile_quantiles(documents, fused_plan.quantile_cols)
        # the totals are published once the fused per-partition frame
        # is collected — no need to wait for the violation-row pin
        totals_future.result()
        return _merge_quantiles(
            finalize_partial_profile(fused_state["per_part"], fused_plan),
            quantiles,
        )

    metrics = None
    profile_future = None
    # try/finally: the fused per-partition frame is persisted inside a
    # pool task — a phase exception must still release it, or the cache
    # entry leaks for the session's lifetime (round-3 ADVICE)
    try:
        with ThreadPoolExecutor(max_workers=max(len(tasks) + 3, 2)) as pool:
            rr_future = pool.submit(row_rules_task) if row_rules else None
            if with_profile:
                if ckpt and ckpt.is_done("profile"):
                    # resume: read the checkpointed metrics back instead
                    # of re-running the full profile scan
                    metrics = ckpt.read(spark, "profile", "metrics")
                else:
                    profile_future = pool.submit(profile_task)
            phase_futures = [
                (name, pool.submit(run_phase, name, fn)) for name, fn in tasks
            ]
            if rr_future is not None:
                rr_future.result()
            for _name, fut in phase_futures:
                fut.result()
            if profile_future is not None:
                metrics = profile_future.result().metrics_df(spark)
            if metrics is not None and ckpt and not ckpt.is_done("profile"):
                ckpt.write("profile", "metrics", metrics)
                ckpt.mark_done("profile")
    finally:
        if fused_state:
            fused_state["per_part"].unpersist()

    if not verdict_dfs:
        # nothing ran (empty rule set, no uniqueness, no catalog):
        # return a well-formed empty result rather than crashing
        from .state import LINEAGE_SCHEMA

        return ValidationResult(
            local_frame(spark, [], R.VERDICT_SCHEMA),
            local_frame(spark, [], R.VIOLATION_SCHEMA),
            metrics,
            local_frame(spark, [], LINEAGE_SCHEMA),
        )
    verdicts = verdict_dfs[0]
    for x in verdict_dfs[1:]:
        verdicts = verdicts.unionByName(x)
    violations = violation_parts[0]
    for x in violation_parts[1:]:
        violations = violations.unionByName(x)
    # small violation sets leave as one partition (one output file)
    # instead of one per shuffle partition of the uniqueness window.
    # Only in default mode without checkpointing, where every part is
    # already materialized (pinned cache, local checkpoint or local
    # relation) and every phase's row count is exact; the union's
    # Catalyst estimate is useless here (a localCheckpoint estimates
    # as Long.MaxValue).
    if (
        not spill
        and ckpt is None
        and sum(violation_rows.values()) <= config.VIOLATIONS_ONE_FILE_ROWS
    ):
        violations = violations.coalesce(1)
    lineage = lineage_parts[0]
    for l in lineage_parts[1:]:
        lineage = lineage.unionByName(l)
    # driver-held rows (lineage and metrics always, verdicts outside
    # spill mode): one partition each, so a write makes one file
    # instead of one per local-relation slice of every unioned phase
    if not spill:
        verdicts = verdicts.coalesce(1)
    if metrics is not None:
        metrics = metrics.coalesce(1)
    return ValidationResult(verdicts, violations, metrics, lineage.coalesce(1))


def canonical_violations(violations: DataFrame) -> DataFrame:
    """Canonical ordering for byte-match golden tests (SURVEY.md §5.2):
    sorted by (doc_id, rule_id, detail)."""
    return violations.orderBy("doc_id", "rule_id", "detail")


def split_valid_invalid(
    documents: DataFrame,
    violations: DataFrame,
    key_column: str = "doc_id",
    broadcast_limit: "int | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Quarantine split: partition the corpus into (valid, invalid)
    full-row frames from a run's violation keys — the dead-letter
    pattern every production pipeline ends with (reference analog: the
    corrector DROPS offending rows, data_corrector.py:546-552; at
    10^12 docs you quarantine them for reprocessing instead).

    ``invalid`` carries the original columns plus ``failed_rules``
    (sorted distinct rule ids per doc); ``valid`` is the anti-join.
    The corpus is touched by exactly two key-joins against the
    (small) violating-key set — count-gated broadcast like every
    other verify join, so at scale neither join shuffles the corpus.
    Table-level verdicts keyed by a column name rather than a doc id
    (the drift phase's partition_id = -1 rows) are excluded by
    joining on the corpus's OWN keys only — a drift violation row
    must not quarantine a document that happens to share the column's
    name."""
    from . import config

    bad = (
        violations.filter(F.col("partition_id") >= 0)
        .groupBy(F.col("doc_id").alias("_k"))
        .agg(F.sort_array(F.collect_set("rule_id")).alias("failed_rules"))
    )
    limit = (
        broadcast_limit
        if broadcast_limit is not None
        else config.BROADCAST_ROW_LIMIT
    )
    n_bad = bad.count()
    if n_bad <= limit:
        bad = F.broadcast(bad)
    key = F.col(key_column).cast("string")
    invalid = documents.join(bad, key == F.col("_k")).drop("_k")
    valid = documents.join(
        bad.select("_k"), key == F.col("_k"), "left_anti"
    )
    return valid, invalid
