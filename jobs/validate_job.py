#!/usr/bin/env python
"""spark-submit entry point for the validation engine (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Cluster usage:

    zip -r advs.zip automatic_data_validator_spark
    spark-submit --py-files advs.zip \
        --conf spark.sql.adaptive.enabled=true \
        jobs/validate_job.py \
        --documents s3://bucket/warehouse/db/documents \
        --catalog   s3://bucket/warehouse/db/media_catalog \
        --output    s3://bucket/validation/run-2026-08-16 \
        --checkpoint s3://bucket/validation/ckpt \
        --snapshot-id auto

Local smoke (this sandbox):

    python jobs/validate_job.py \
        --documents /tmp/advs_docs --catalog /tmp/advs_cat \
        --output /tmp/advs_out --synthesize 100000

Reads Iceberg table names (``catalog.db.table``) or parquet paths,
runs the full validation (row rules + salted uniqueness + referential
+ single-pass profile), writes verdicts/violations/metrics/lineage as
parquet under --output, and exits nonzero when any rule failed — the
exit code IS the pass/fail signal for orchestrators.
"""

from __future__ import annotations

import argparse
import os
import sys

# On a cluster --py-files ships the package; for bare local runs the
# repo root (parent of jobs/) must be importable too.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# validation runs no Python UDF (drift sketches are a JVM aggregate), so
# executors never import the package and PYTHONPATH needs no export


def _pick_signals_fn(docs, group_by: str | None = None):
    """One encoding of the drift-target rule for BOTH run modes: sketch
    plain numeric columns when the table has them, else derive the
    interleaved shape's per-doc signals (the flagship documents table
    has NO numeric columns — a silent no-op would make the drift flags
    dead letters). With ``group_by``, the derived signal frame keeps
    the cohort column so per-group sketches can partition on it.
    Returns (numeric_columns, signals_fn_or_None)."""
    from pyspark.sql import types as _T

    from automatic_data_validator_spark.drift import document_signals

    numeric = [
        f.name for f in docs.schema.fields
        if isinstance(f.dataType, _T.NumericType) and f.name != group_by
    ]
    signals_fn = None
    if not numeric and "spans" in docs.columns:
        if group_by:
            signals_fn = lambda d: document_signals(d, keep=[group_by])  # noqa: E731
        else:
            signals_fn = document_signals
    return numeric, signals_fn


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--documents", required=True, help="Iceberg name or parquet path")
    ap.add_argument("--catalog", default=None, help="media catalog (optional)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--snapshot-id", default="auto")
    ap.add_argument("--rule-version", default="v1")
    ap.add_argument("--no-profile", action="store_true")
    ap.add_argument("--drift-baseline", default=None,
                    help="path of a drift.save_baseline snapshot; adds "
                         "the distribution-drift phase")
    ap.add_argument("--drift-group-by", default=None, metavar="COL",
                    help="cohort column for per-(group, column) drift: "
                         "--save-drift-baseline writes a grouped "
                         "baseline, --drift-baseline expects one and "
                         "emits one verdict/violation per cohort")
    ap.add_argument("--save-drift-baseline", default=None, metavar="PATH",
                    help="after validating, sketch the numeric columns "
                         "and save them as the NEXT run's baseline")
    ap.add_argument("--synthesize", type=int, default=0, metavar="N_DOCS",
                    help="generate a synthetic input first (local smoke only)")
    ap.add_argument("--quarantine", default=None, metavar="DIR",
                    help="also write {DIR}/clean and {DIR}/quarantined "
                         "(full violating rows + failed_rules) — the "
                         "dead-letter split")
    ap.add_argument("--incremental-state", default=None, metavar="DIR",
                    help="snapshot-delta mode: validate only files "
                         "appended since the last run with this state "
                         "dir and merge (incremental.validate_"
                         "incremental); --documents must be a parquet "
                         "path; --drift-baseline is supported (delta "
                         "sketches merge into the corpus sketch); "
                         "--checkpoint/--save-drift-baseline are "
                         "rejected")
    ap.add_argument("--expire-keep-last", type=int, default=None,
                    metavar="K",
                    help="after an incremental run, roll verdict/"
                         "lineage history older than the newest K "
                         "increments into an increment=-1 base and "
                         "drop (or archive) their violation rows "
                         "(incremental.expire_increments); requires "
                         "--incremental-state")
    ap.add_argument("--expire-archive", default=None, metavar="DIR",
                    help="with --expire-keep-last: append expired "
                         "violation rows here instead of dropping them")
    ap.add_argument("--compact-state", action="store_true",
                    help="after an incremental run, rewrite the state "
                         "stores to 1 file/increment (incremental."
                         "compact_state); requires --incremental-state")
    args = ap.parse_args(argv)
    if args.compact_state and not args.incremental_state:
        raise SystemExit(
            "--compact-state only applies to --incremental-state runs"
        )
    if args.expire_keep_last is not None and not args.incremental_state:
        raise SystemExit(
            "--expire-keep-last only applies to --incremental-state "
            "runs (full runs keep no per-increment history to expire)"
        )
    if args.expire_archive is not None and args.expire_keep_last is None:
        raise SystemExit(
            "--expire-archive does nothing without --expire-keep-last "
            "— a silently-dropped flag would read as retention+"
            "archiving being configured when it is not"
        )

    from pyspark.sql import SparkSession

    from automatic_data_validator_spark.sources import read_table
    from automatic_data_validator_spark.validate import run_validation

    # cluster-agnostic: master/executors come from spark-submit conf.
    # Only stop the session at exit if this job created it (an
    # embedding caller — tests, notebooks — keeps its own session).
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("advs-validate").getOrCreate()

    if args.synthesize:
        from automatic_data_validator_spark.synth import (
            make_documents,
            make_media_catalog,
        )

        n_media = max(args.synthesize // 100, 1000)
        make_documents(spark, args.synthesize, n_media=n_media).write.mode(
            "overwrite"
        ).parquet(args.documents)
        if args.catalog:
            make_media_catalog(spark, n_media).write.mode("overwrite").parquet(
                args.catalog
            )

    docs = read_table(spark, args.documents)
    catalog = read_table(spark, args.catalog) if args.catalog else None

    # shape-aware rules: DEFAULT_RULES are the interleaved documents
    # contract (span_order/span_shape reference `spans`); a plain table
    # without that column would otherwise fail rule COMPILATION before
    # any check runs, in either run mode. Fall back to a minimal
    # not-null on the key.
    rule_set = None
    if "spans" not in docs.columns:
        from automatic_data_validator_spark import rules as _R

        key = "doc_id" if "doc_id" in docs.columns else docs.columns[0]
        rule_set = [_R.Rule(f"not_null_{key}", "not_null", column=key)]

    if args.incremental_state:
        # snapshot-delta mode: only the files appended since the last
        # run are scanned; results merge with the persisted state
        from automatic_data_validator_spark.incremental import (
            validate_incremental,
        )
        from automatic_data_validator_spark.sources import (
            write_outputs_parallel as _wop,
        )

        # flags the incremental path cannot honor must FAIL, not be
        # silently dropped (checkpointing/baseline-saving belong to
        # the full-run path; incremental has its own state discipline)
        if args.checkpoint or args.save_drift_baseline:
            raise SystemExit(
                "--incremental-state is incompatible with --checkpoint "
                "and --save-drift-baseline; incremental runs persist "
                "their own state and a baseline should be saved from a "
                "full run"
            )
        # --drift-baseline IS supported: the increment sketches its
        # delta signals and the merged corpus sketch is compared.
        # --drift-group-by too (r5): per-(group, column) sketches merge
        # across increments into per-cohort corpus sketches, vs a
        # save_grouped_baseline snapshot
        if args.drift_group_by and not args.drift_baseline:
            raise SystemExit(
                "--drift-group-by does nothing in incremental mode "
                "without --drift-baseline (incremental rejects "
                "--save-drift-baseline, the flag's only other "
                "consumer) — a silently-dropped flag would read as "
                "cohort drift being monitored when it is not"
            )
        _numeric, signals_fn = (
            _pick_signals_fn(docs, args.drift_group_by)
            if args.drift_baseline
            else ([], None)
        )
        ires = validate_incremental(
            spark, args.documents, args.incremental_state,
            catalog=catalog, rule_set=rule_set,
            with_profile=not args.no_profile,
            rule_version=args.rule_version,
            drift_baseline=args.drift_baseline,
            drift_signals=signals_fn,
            drift_group_by=args.drift_group_by,
        )
        from pyspark.sql import functions as F

        from automatic_data_validator_spark.state import (
            run_summary as _run_summary,
        )

        # summarize THIS run only: the merged frames span every
        # increment ever validated (plus the expired -1 base whose
        # duration is a SUM across rolled-up increments), so an
        # all-history run_summary would report a wall_s covering days
        # of state lifetime for a 30-second delta run. On a ZERO-delta
        # run ires.increment is the PREVIOUS increment (early return),
        # so filtering to it would report the prior run's counts as
        # this run's — or an empty frame if that increment was already
        # expired into the -1 base; emit an explicit 0-row no-op
        # summary instead (round-5 ADVICE).
        if ires.n_delta_files == 0:
            summary = _run_summary(
                ires.lineage.limit(0), ires.verdicts.limit(0)
            )
        else:
            cur = F.col("increment") == F.lit(ires.increment)
            summary = _run_summary(
                ires.lineage.filter(cur), ires.verdicts.filter(cur)
            )
        outputs = {"verdicts": ires.verdicts, "violations": ires.violations,
                   "lineage": ires.lineage, "run_summary": summary}
        if ires.metrics is not None:
            outputs["metrics"] = ires.metrics
        _wop(outputs, args.output)
        ok = ires.passed()
        print(
            f"incremental run: increment={ires.increment} "
            f"delta_files={ires.n_delta_files} delta_rows={ires.delta_rows} "
            f"passed={ok}; outputs at {args.output}"
        )
        if args.expire_keep_last is not None:
            # routine retention rides the run, AFTER results are out
            from automatic_data_validator_spark.incremental import (
                expire_increments,
            )

            erep = expire_increments(
                spark, args.incremental_state,
                keep_last=args.expire_keep_last,
                archive_dir=args.expire_archive,
            )
            print(f"expired history: {erep}")
        if args.compact_state:
            from automatic_data_validator_spark.incremental import (
                compact_state,
            )

            crep = compact_state(spark, args.incremental_state)
            print(f"compacted state: {crep}")
        if owns_session:
            spark.stop()
        return 0 if ok else 1

    snapshot_id = args.snapshot_id
    from automatic_data_validator_spark.sources import is_path_like

    if snapshot_id == "auto" and not is_path_like(args.documents):
        # table name, not a path/URI: prefer the true Iceberg snapshot
        # id; run_validation's "auto" (input-file hash) is the fallback
        from automatic_data_validator_spark.state import iceberg_snapshot_id

        snapshot_id = iceberg_snapshot_id(spark, args.documents) or "auto"
    from automatic_data_validator_spark.drift import (
        save_baseline,
        save_grouped_baseline,
        sketch_columns,
    )

    numeric, signals_fn = _pick_signals_fn(docs, args.drift_group_by)

    res = run_validation(
        spark,
        docs,
        catalog=catalog,
        rule_set=rule_set,
        checkpoint_dir=args.checkpoint,
        snapshot_id=snapshot_id,
        rule_version=args.rule_version,
        with_profile=not args.no_profile,
        drift_baseline=args.drift_baseline,
        drift_signals=signals_fn,
        drift_group_by=args.drift_group_by,
    )

    if args.save_drift_baseline:
        if signals_fn is not None:
            target = signals_fn(docs)
            cols = [c for c in target.columns if c != args.drift_group_by]
        elif numeric:
            target, cols = docs, numeric
        else:
            # no numeric columns AND no spans column: sketching string
            # columns yields all-NaN → empty sketches, and every future
            # drift check against that baseline passes with
            # reason=both_empty — silent dead monitoring. Refuse.
            raise SystemExit(
                "--save-drift-baseline: table has no numeric columns "
                "and no 'spans' column to derive signals from; a "
                "baseline of empty sketches would make drift checks "
                "dead letters. Pick a table with numeric columns or "
                "the interleaved documents shape."
            )
        if args.drift_group_by and args.drift_group_by not in target.columns:
            raise SystemExit(
                f"--drift-group-by: column '{args.drift_group_by}' "
                f"is not in the signal frame ({list(target.columns)})"
            )
        (save_grouped_baseline if args.drift_group_by else save_baseline)(
            sketch_columns(
                target, list(cols), group_by=args.drift_group_by or None
            ),
            spark, args.save_drift_baseline, snapshot_id=snapshot_id,
        )
        print(f"drift baseline saved: {args.save_drift_baseline}")

    from automatic_data_validator_spark.sources import write_outputs_parallel
    from automatic_data_validator_spark.state import run_summary

    summary = run_summary(res.lineage, res.verdicts)
    if args.quarantine:
        from automatic_data_validator_spark.validate import (
            split_valid_invalid,
        )

        clean, quarantined = split_valid_invalid(docs, res.violations)
        write_outputs_parallel(
            {"clean": clean, "quarantined": quarantined}, args.quarantine
        )
        print(f"quarantine written: {args.quarantine}")
    outputs = {"verdicts": res.verdicts, "violations": res.violations,
               "lineage": res.lineage, "run_summary": summary}
    if res.metrics is not None:
        outputs["metrics"] = res.metrics
    write_outputs_parallel(outputs, args.output)

    ok = res.passed()
    # the reference prints its session summary after every run
    # (logger.py:315-358); mirror the headline totals on stdout
    tot = next(r for r in summary.collect() if r["phase"] == "__run__")
    print(
        f"run summary: phases_duration_s={tot['duration_s']} "
        f"wall_s={tot['wall_s']} "
        f"checked_rows={tot['row_count']} violations={tot['violation_count']} "
        f"pass_rate={tot['pass_rate']}"
    )
    print(f"validation {'PASSED' if ok else 'FAILED'}; outputs at {args.output}")
    if owns_session:
        spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
