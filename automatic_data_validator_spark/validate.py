"""End-to-end validation run: the engine's flagship entry point.

One private phase runner, ``_run_checks``, runs every check for both
callers: ``run_validation`` over a whole input, and
``incremental.validate_incremental`` over the files appended since its
last call, with that increment's state merges (key index, drift
sketches, profile partials) in place of the whole-input uniqueness,
drift and profile steps.

Pipeline (each phase checkpointable, resumable via state.Checkpointer):

  phase "row_rules"    — all row-level rules -> per-partition verdicts
                         + violation rows (rules.py)
  phase "uniqueness"   — two-phase salted doc_id dedup (dedup.py)
  phase "referential"  — media_ref anti-join vs catalog (refcheck.py)
  phase "profile"      — column stats -> metrics rows (profile.py)
  phase "drift"        — KS/PSI vs a baseline sketch snapshot
                         (opt-in via drift_baseline; drift.py)

Every phase but drift reads one ``check_frame``: the input projected
to keys, one fail flag per row rule, each row's media refs and the
columns the profile reads. When that frame is narrow (it copies no
input column whole but the keys, as for the documents shape) and the
run is not in spill mode, it is materialized as an eager
localCheckpoint, read by every other check, and released before the
run returns, so the input is read once. Otherwise (a profiled flat
table, whose columns the frame would copy whole, or spill mode, where
checkpoint blocks without lineage would not survive a lost executor)
each check reads the input through its own column-pruned scan of the
lazy frame. The catalog's distinct refs are read once, into a local
checkpoint every referential join reads (spill mode reads the catalog
per use). One per-partition aggregate carries the rule counts, the
profile partials and the partition totals. Each check keeps its own
result as a local relation or a localCheckpoint, so nothing the run
creates stays in the session's cache manager: a later run over a path
rewritten in place cannot be served stale cached rows. Drift maps the
input to its own signal frame (``drift_signals``) and reads it in
parallel.

Outputs: ``verdicts`` / ``violations`` / ``metrics`` / ``lineage``
DataFrames (written as parquet when a checkpoint dir is given). This is
the Spark-native equivalent of the reference's
upload→profile→validate loop (app.py:202-501) with the eager pandas
passes replaced by lazy plans over one check frame.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config, dedup, refcheck, rules as R
from pyspark.sql import types as T

from .profile import (
    _merge_quantiles,
    build_partial_profile,
    finalize_partial_profile,
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


# check-frame column prefixes: one fail flag per row rule, one media-ref
# array per referential phase
_FLAG = "_advs_fail_"
_REFS = "_advs_refs_"
# run_validation's default verdict_spill_threshold, which an increment
# (incremental.validate_incremental) uses too
_VERDICT_SPILL_THRESHOLD = 100_000


def _profile_stand_in(field: T.StructField):
    """A narrow column with the nulls (and, for arrays, the sizes) of a
    nested input column: all ``build_partial_profile(distinct_nested=
    False)`` reads of one. An array of structs keeps one fixed-width
    field, a struct or map becomes a boolean. None for a column no
    stand-in narrows (an atomic column, an array of atomics, an array of
    structs without a fixed-width field): the check frame copies it."""
    c, dt = F.col(field.name), field.dataType
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
        wide = (T.StringType, T.BinaryType, T.ArrayType, T.MapType, T.StructType)
        pick = next(
            (f for f in dt.elementType.fields if not isinstance(f.dataType, wide)),
            None,
        )
        return c.getField(pick.name) if pick else None
    if isinstance(dt, (T.StructType, T.MapType)):
        return F.when(c.isNotNull(), F.lit(True))
    return None


def check_frame(
    documents: DataFrame,
    keys: "list[str]",
    preds: "list[tuple[str, Any]]",
    refs: "dict[str, str]",
    profile: bool,
) -> "tuple[DataFrame, bool]":
    """The per-row frame every run_validation check but drift reads,
    and whether it is narrow. It holds the ``keys`` columns as they
    are, one fail flag per row rule (``not coalesce(pred, false)``, the
    semantics of both the verdict counts and the violation rows), one
    array of the row's distinct non-null media refs per referential
    phase (``refs``: column name -> spans column), and, with
    ``profile``, every input column the profile partials read (nested
    ones as ``_profile_stand_in``).

    Narrow means it copies no input column whole but the keys: the
    documents shape (a key plus nested spans) or any run without the
    profile. A flat table with a text column is not narrow; with the
    profile the frame would hold the text.

    It is a map-only projection, so its partition i is the input's
    partition i, and ``spark_partition_id()`` over it (materialized or
    not) is the input partition every verdict and violation row is
    attributed to."""
    cols: dict[str, Any] = {k: F.col(k) for k in keys}
    narrow = True
    if profile:
        for f in documents.schema.fields:
            if f.name not in cols:
                stand_in = _profile_stand_in(f)
                narrow = narrow and stand_in is not None
                cols[f.name] = F.col(f.name) if stand_in is None else stand_in
    for i, (_rid, p) in enumerate(preds):
        cols[f"{_FLAG}{i}"] = ~F.coalesce(p, F.lit(False))
    for name, spans_col in refs.items():
        cols[name] = refcheck.media_refs_expr(spans_col)
    return documents.select(*[c.alias(n) for n, c in cols.items()]), narrow


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of an eager ``localCheckpoint``: the frame's
    plan is a LogicalRDD over the checkpointed RDD. Reading the frame
    afterwards fails; nothing else held its blocks. (SparkContext's
    unpersistRDD, not RDD.unpersist, which logs a warning for every
    locally checkpointed RDD.)"""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), True)


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
    verdict_spill_threshold: int = _VERDICT_SPILL_THRESHOLD,
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
    return _run_checks(
        spark, documents, catalog=catalog, rule_set=rule_set,
        key_column=key_column, ckpt=ckpt, snapshot_id=snapshot_id,
        rule_version=rule_version, with_profile=with_profile,
        check_uniqueness=check_uniqueness,
        verdict_spill_threshold=verdict_spill_threshold,
        drift_baseline=drift_baseline, drift_columns=drift_columns,
        drift_ks_threshold=drift_ks_threshold,
        drift_psi_threshold=drift_psi_threshold,
        drift_signals=drift_signals, drift_group_by=drift_group_by,
    )


def _run_checks(
    spark: SparkSession,
    documents: DataFrame,
    *,
    catalog: DataFrame | None,
    rule_set: "list[R.Rule] | None",
    key_column: str,
    ckpt: "Checkpointer | None",
    snapshot_id: str,
    rule_version: str,
    with_profile: bool,
    check_uniqueness: bool,
    verdict_spill_threshold: int,
    drift_baseline: "dict | str | None",
    drift_columns: "list[str] | None",
    drift_ks_threshold: float,
    drift_psi_threshold: float,
    drift_signals: "Any | None",
    drift_group_by: "str | None",
    merges: "Any | None" = None,
) -> ValidationResult:
    """The phase runner behind run_validation and
    incremental.validate_incremental (keyword arguments as
    run_validation's, with the Checkpointer already built).

    ``merges`` is an increment's state merge (incremental.py), or None
    for a run over the whole input. It supplies three hooks:
    ``uniqueness`` replaces dedup.uniqueness_check (same arguments and
    result), ``sketches(sketches)`` returns the drift sketches to
    compare (the input's merged with the stored history), and
    ``profile(part, plan)`` finalizes the profile from the
    per-partition partials (stored, then merged with the history). With
    it, the profile rides 33-point quantile grids in the aggregate
    instead of a separate quantile pass, so the partials merge across
    increments, and drift violation details carry ``;inc=<merges.inc>``.
    """
    rule_set = rule_set if rule_set is not None else list(DEFAULT_RULES)
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

    row_rules = R.row_level(rule_set)
    # compiled (and safety-checked) before any job runs
    preds = [(r.rule_id, R.compile_rule(r, documents)) for r in row_rules]

    def pending(name: str) -> bool:
        return not (ckpt and ckpt.is_done(name))

    verdict_dfs: list[DataFrame] = []
    violation_parts: list[DataFrame] = []
    lineage_parts: list[DataFrame] = []
    # exact violation ROW count per phase (default mode): the verdict
    # sum, except where a phase's verdicts count something else
    violation_rows: dict[str, int | None] = {}
    _acc_lock = threading.Lock()

    def run_phase(name: str, fn) -> None:
        """Run or resume one phase.

        Default mode: verdicts are tiny (one row per partition x rule),
        collected ONCE and rebuilt as a JVM LocalRelation
        (``session.local_frame``), so no action on them starts a Python
        worker. Spill mode: verdicts stay distributed (eagerly
        localCheckpoint'ed, or read back from the checkpoint dir), and
        lineage gets per-rule aggregate rows (partition_id null).
        Violation rows come back materialized from every phase; under
        checkpointing they are written and read back.
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
                vdf = vdf.localCheckpoint(eager=True)
            duration_s = round(_time.perf_counter() - t0, 3)
            if ckpt:
                ckpt.write(name, "verdicts", vdf)
                ckpt.write(name, "violations", violations)
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

    # Every check but drift reads ONE check frame (check_frame). When it
    # is narrow and the run is not in spill mode it is kept as an eager
    # localCheckpoint (``checks``) and released in the finally, so the
    # input is read once; otherwise it stays a lazy projection, which
    # each check reads from the input through its own pruned scan.
    # ``frame`` holds it, the per-partition aggregate
    # (collected rows and their local relation, or a localCheckpoint in
    # spill mode), a blocking callable for the partition totals
    # (aggregate_task's result) and the futures of the catalog's
    # distinct refs with their count and of the profile's
    # partial-aggregate plan. ``held`` collects the local checkpoints
    # released before the runner returns.
    frame: dict[str, Any] = {}
    held: list[DataFrame] = []
    rule_ids = [rid for rid, _p in preds]
    flag_preds = [
        (rid, ~F.col(f"{_FLAG}{i}")) for i, rid in enumerate(rule_ids)
    ]

    def row_rules_phase():
        viol = R.violation_rows(frame["checks"], flag_preds, key_column)
        if ckpt is None and not spill:
            # a kept check frame is released before the caller reads
            # this; from a lazy one the sparse filter scan runs now,
            # beside the other checks, not when the caller writes it.
            # Under checkpointing the phase writes it and reads it back;
            # spill-mode violations (10^12-doc scale) stream to the
            # caller's sink instead of into block storage.
            viol = viol.localCheckpoint(eager=True)
        frame["totals"]()  # the rule counts are in
        if spill:
            vdf = R.verdicts_from_per_partition(frame["part"], rule_ids)
        else:
            # rows are (partition_id, row_count, viol_0, ..., partials)
            vdf = local_frame(spark, [
                (r[0], rid, r[1], r[2 + i], r[2 + i] == 0)
                for r in frame["rows"]
                for i, rid in enumerate(rule_ids)
            ], R.VERDICT_SCHEMA)
        return vdf, viol

    tasks: list[tuple[str, Any]] = []
    key_cols: list[str] = []
    refs_cols: dict[str, str] = {}
    if row_rules:
        tasks.append(("row_rules", row_rules_phase))
        if pending("row_rules"):
            key_cols.append(key_column)
    if check_uniqueness or any(r.kind == "unique_key" for r in rule_set):
        uniq_rules = [r for r in rule_set if r.kind == "unique_key"] or [
            R.Rule("unique_doc_id", "unique_key", column=key_column)
        ]
        uniqueness = merges.uniqueness if merges else dedup.uniqueness_check
        for ur in uniq_rules:
            name = f"uniqueness_{ur.rule_id}"
            if pending(name):
                key_cols.append(ur.column or key_column)
            tasks.append(
                (
                    name,
                    lambda ur=ur: uniqueness(
                        frame["checks"], ur.column or key_column, ur.rule_id,
                        partition_totals=frame["totals"],
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
            # rule ids may hold dots, so the column is named by position
            refs_col = f"{_REFS}{len(tasks)}"
            if pending(phase):
                key_cols.append("doc_id")
                refs_cols[refs_col] = spans_col

            def referential_phase(rr_rule=rr_rule, spans_col=spans_col,
                                  phase=phase, refs_col=refs_col):
                cat_refs, cat_rows = frame["catalog"].result()
                # verdicts count distinct (partition, doc) pairs; the
                # row count comes from the check's own collect
                vdf, viol, violation_rows[phase] = (
                    refcheck.referential_check_counted(
                        frame["checks"], catalog, spans_col=spans_col,
                        rule_id=rr_rule.rule_id,
                        catalog_rows=cat_rows,
                        partition_totals=frame["totals"],
                        distributed=spill,
                        refs_col=refs_col,
                        catalog_refs=cat_refs,
                    )
                )
                return vdf, viol

            tasks.append((phase, referential_phase))

    def catalog_task():
        """Pool task: the catalog's distinct refs and their count.
        Outside spill mode the count is the job that fills a local
        checkpoint of them, which every referential join then reads,
        so the catalog is read once. Spill mode reads it per use: a
        checkpoint block has no lineage to recompute it from."""
        cat_refs = catalog.select("media_ref").distinct()
        if not spill:
            cat_refs = cat_refs.localCheckpoint(eager=False)
            held.append(cat_refs)
        return cat_refs, cat_refs.count()

    # distribution-drift phase (north_rule's fourth check family): one
    # sketch pass (drift.sketch_columns: a percentile_approx quantile-
    # grid aggregate in the JVM, no Python worker) compared vs the
    # baseline snapshot — table-level verdicts use partition_id = -1
    # (drift has no per-partition attribution) and one violation row
    # per drifted COLUMN (doc_id = the column name, detail = ks/psi/
    # reason). Rides the same phase machinery, so it checkpoints,
    # overlaps with the check frame's scan, and lands in
    # lineage/run_summary. It is the one phase that reads ``documents``
    # itself: drift_signals maps the input to its own signal frame.
    drift_check = None
    if drift_baseline is not None:
        from . import drift as DR

        def drift_check():
            # drift_signals: derive the frame to sketch (e.g.
            # drift.document_signals for the interleaved shape, which
            # has no plain numeric columns); default = the input table
            target = (
                drift_signals(documents) if drift_signals else documents
            )
            # drift_group_by: cohort drift (r5, round-4 VERDICT
            # directive #5) — one verdict / violation per (group,
            # column), so a drifted cohort surfaces even when the
            # table-level mixture is stable
            baseline, cols = DR.resolve_drift_config(
                spark, drift_baseline, target, drift_columns, drift_group_by
            )
            sketches = DR.sketch_columns(target, cols, group_by=drift_group_by)
            if merges:
                sketches = merges.sketches(sketches)
            report = DR.drift_report_sketches(
                sketches, baseline, cols,
                ks_threshold=drift_ks_threshold,
                psi_threshold=drift_psi_threshold,
            )
            v_rows, viol_rows = DR.drift_report_rows(
                report, inc=merges.inc if merges else None
            )
            return (
                local_frame(spark, v_rows, R.VERDICT_SCHEMA),
                local_frame(spark, viol_rows, R.VIOLATION_SCHEMA),
            )

    profiling = with_profile and pending("profile")

    def aggregate_task():
        """Pool task: every partition's row count, fail-flag counts and
        profile partials over the check frame, collected once (spill
        mode: checkpointed). Returns the partition totals."""
        per_part = R.per_partition_rule_aggregate(
            frame["checks"],
            flag_preds if pending("row_rules") else [],
            frame["profile"].result().exprs if profiling else (),
        )
        if spill:
            frame["part"] = per_part.localCheckpoint(eager=True)
            return frame["part"].select(
                F.col("partition_id").cast("int").alias("partition_id"),
                "row_count",
            )
        frame["rows"] = [tuple(r) for r in per_part.collect()]
        frame["part"] = local_frame(spark, frame["rows"], per_part.schema)
        return {r[0]: r[1] for r in frame["rows"]}

    def profile_task():
        """Pool task: the run's ProfileResult, finalized over the
        collected per-partition partials (a local relation, or the
        spill-mode checkpoint) plus a quantile pass over the check
        frame's numeric columns (none for the flagship documents
        shape, none with ``merges``: its grids ride the aggregate)."""
        plan = frame["profile"].result()
        quantiles = profile_quantiles(frame["checks"], plan.quantile_cols)
        frame["totals"]()  # the partials are in
        finalize = merges.profile if merges else finalize_partial_profile
        return _merge_quantiles(finalize(frame["part"], plan), quantiles)

    metrics = None
    profile_future = None
    try:
        with ThreadPoolExecutor(max_workers=len(tasks) + 5) as pool:
            # drift reads the input itself: start it first so its scan
            # overlaps the check frame's
            futures = (
                [pool.submit(run_phase, "drift", drift_check)]
                if drift_check
                else []
            )
            if profiling:
                # the profile's partial-aggregate plan (~0.15 s of
                # driver work) is built while the check frame fills.
                # Date-format probing is for string business columns,
                # not ids.
                frame["profile"] = pool.submit(
                    build_partial_profile, documents, detect_formats=False,
                    fused_quantiles=merges is not None,
                )
            if profiling or any(pending(n) for n, _fn in tasks):
                if refs_cols:
                    # needs no check frame: runs while the frame fills
                    frame["catalog"] = pool.submit(catalog_task)
                frame["checks"], narrow = check_frame(
                    documents, key_cols,
                    preds if pending("row_rules") else [], refs_cols,
                    profile=profiling,
                )
                if narrow and not spill and any(pending(n) for n, _fn in tasks):
                    # read by a check besides the aggregate: read the
                    # input once (a profile-only run reads it directly).
                    # Spill mode keeps the per-check reads: checkpoint
                    # blocks have no lineage, and at that scale a lost
                    # executor would fail the run.
                    frame["checks"] = frame["checks"].localCheckpoint(eager=True)
                    held.append(frame["checks"])
                # the per-partition aggregate runs beside the checks;
                # uniqueness/referential resolve the totals only once
                # their own work is done
                frame["totals"] = pool.submit(aggregate_task).result
            futures += [pool.submit(run_phase, name, fn) for name, fn in tasks]
            if profiling:
                profile_future = pool.submit(profile_task)
            for fut in futures:
                fut.result()
            if profile_future is not None:
                metrics = profile_future.result().metrics_df(spark)
            elif with_profile:
                # resume: the checkpointed metrics, not a profile pass
                metrics = ckpt.read(spark, "profile", "metrics")
            if metrics is not None and ckpt and not ckpt.is_done("profile"):
                ckpt.write("profile", "metrics", metrics)
                ckpt.mark_done("profile")
    finally:
        # the check frame's and the catalog refs' blocks go now, not
        # when the frames are garbage collected; every result read
        # from them is materialized
        for df in held:
            _release_checkpoint(df)

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
