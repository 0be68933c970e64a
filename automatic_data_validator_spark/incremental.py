"""Incremental (snapshot-delta) validation: validate ONLY the files
appended since the last validated snapshot and merge with persisted
state — the corpus is never re-read.

Why this is a first-class 100-TB feature: at 10^12 docs a full
revalidation per snapshot re-scans ~100 TB to re-check data that has
not changed. Parquet/Iceberg data files are immutable — a snapshot
appends files — so per-file verdicts stay valid forever. The only
checks that couple NEW data to OLD are corpus-level, and both have
mergeable forms:

* **uniqueness** — a persisted KEY-LOCATION INDEX with one row per
  (doc_id, partition, increment): cross-increment collisions come from
  joining the delta's key set against the index, never from re-reading
  raw documents. At deployment the index should be stored bucketed on
  doc_id (``sources.write_bucketed_table`` / ``write_iceberg_bucketed``)
  so this join shuffles only the delta side; here it is plain parquet.
* **profile metrics** — the fused scan's per-partition algebraic
  partials (counts/sums/min/max/central moments/HLL sketches/quantile
  grids) are persisted per increment; ``finalize_partial_profile``
  re-merges over every increment's partials (Pébay moment merge and
  HLL register union are associative and order-insensitive) and never
  touches the input table.

Equivalence contract vs one full ``run_validation`` over the whole
corpus (pinned by tests/test_incremental.py):

* violations match as a multiset of (doc_id, rule_id), and per-rule
  violation totals match exactly. ``partition_id`` attribution is
  *within-increment* (physical partition ids restart with each delta
  read); the increment is recorded in the violation ``detail``.
* metrics match exactly for count/null/min/max and HLL distinct
  estimates (register union is order-insensitive), to fp round-off for
  mean/std/skew/kurtosis, and within the fused-grid bound for
  quantiles (the flagship documents shape has no numeric columns, so
  no quantile metrics at all).

Failure atomicity: every store is written ``partitionBy("increment")``
with dynamic partition overwrite and the manifest is committed LAST,
so a crashed increment re-runs idempotently (its partial partition is
overwritten, never duplicated).

Reference parity note: the reference validates a whole pandas frame
per run (data_analyzer.py:40-118); incremental mode is this engine's
scale extension of that contract, not a port.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import refcheck
from . import rules as R
from .profile import build_partial_profile, finalize_partial_profile
from .session import local_frame
from .state import LINEAGE_SCHEMA, lineage_from_verdicts

_MANIFEST = "manifest.json"
# multiset key checksum: sum over rows of xxhash64(key) mod P, plus the
# row count — additive across increments (computed on each delta from
# the already-aggregated key-location frame) and recomputable from a
# compacted corpus in ONE key-only scan, so rebase_after_compaction can
# verify the rewrite preserved the row multiset without trusting it
_CHECKSUM_P = 2**40
# compaction swap suffixes — shared by compact_state's two-rename swap
# and the guards that refuse to read a mid-swap state
_COMPACT_BAK = ".compact_bak"
_COMPACT_TMP = ".compact_tmp"


def _refuse_crashed_compaction(state_dir: str) -> None:
    """Raise if a compaction crashed between its two swap renames here
    (<store>.compact_bak present, live dir possibly missing): reading
    such a state would silently treat the store as never written — an
    absent key index passes every cross-increment duplicate."""
    if not os.path.isdir(state_dir):
        return
    crashed = [
        d for d in os.listdir(state_dir) if d.endswith(_COMPACT_BAK)
    ]
    if crashed:
        raise ValueError(
            f"state_dir {state_dir} holds a crashed compaction "
            f"({sorted(crashed)}); run compact_state() first — it "
            "restores the backed-up store before doing anything else"
        )


def _commit_manifest(mpath: str, manifest: dict) -> None:
    """THE manifest commit: atomic tmp-write + rename, LAST in every
    increment protocol — a crash before this line leaves the prior
    manifest in force and the crashed increment's partition writes are
    re-done idempotently on retry. Shared by validate_incremental,
    expire_increments, rebase_after_compaction, and
    dedup.incremental_neardup so the crash-commit protocol has exactly
    one implementation."""
    os.makedirs(os.path.dirname(mpath), exist_ok=True)
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mpath)


def _file_delta(
    spark: SparkSession, input_path: str, manifest: dict, remedy: str
) -> "tuple[DataFrame, list[str], list[str]]":
    """File-inventory diff against a manifest: returns (full frame,
    all_files, delta_files) and raises on a removed/rewritten file —
    the append-only contract both incremental protocols share. At a
    deployment with millions of files, derive the delta from Iceberg
    snapshot manifests (snapshot_id diff) instead of this listing —
    callers' merge machinery is unchanged."""
    full = spark.read.parquet(input_path)
    all_files = sorted(full.inputFiles())
    known = set(manifest["files"])
    removed = known - set(all_files)
    if removed:
        raise ValueError(
            f"{len(removed)} validated file(s) no longer in the input "
            f"(e.g. {sorted(removed)[0]}): the append-only contract is "
            f"broken — {remedy}"
        )
    return full, all_files, [f for f in all_files if f not in known]


def _key_checksum(loc: DataFrame) -> tuple[int, int]:
    """(rows, hash) over a (doc_id, cnt) aggregate — decimal(38) sum so
    10^12 rows cannot overflow."""
    row = loc.agg(
        F.sum("cnt").alias("rows"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * F.pmod(F.xxhash64("doc_id"), F.lit(_CHECKSUM_P)).cast(
                "decimal(38,0)"
            )
        ).alias("hash"),
    ).collect()[0]
    return int(row["rows"] or 0), int(row["hash"] or 0)


@dataclass
class IncrementalResult:
    """Merged state after an increment. Frames carry the standard
    VERDICT/VIOLATION/metrics/LINEAGE schemas plus an ``increment``
    column (int, hive-partition-derived) on verdicts/violations/
    lineage."""

    verdicts: DataFrame
    violations: DataFrame
    metrics: DataFrame | None
    lineage: DataFrame
    increment: int
    n_delta_files: int
    delta_rows: int

    def passed(self) -> bool:
        """Row-rule/uniqueness/referential verdicts are permanent facts
        about their increment's rows; drift verdicts describe the WHOLE
        corpus as of one increment, so only the latest increment's
        drift rows count — an increment that cured a drift must not be
        held to a stale fail (the history stays queryable in the
        store)."""
        v = self.verdicts
        if "increment" in v.columns:
            # latest increment WITH drift rows, not the global latest:
            # an increment that (somehow) carried no drift rows must
            # not make a standing drift failure vanish un-re-evaluated
            latest = (
                v.filter(F.col("rule_id").startswith("drift_"))
                .agg(F.max("increment"))
                .collect()[0][0]
            )
            if latest is not None:
                v = v.filter(
                    (~F.col("rule_id").startswith("drift_"))
                    | (F.col("increment") == latest)
                )
        return v.filter(~F.col("pass")).limit(1).count() == 0


def _write_inc(
    df: DataFrame,
    path: str,
    inc: int,
    num_files: int = 4,
    sort_key: "str | None" = None,
) -> None:
    # explicitly clear this increment's partition first: dynamic
    # overwrite of an EMPTY frame writes no partitions, so a crashed
    # attempt's orphaned rows would otherwise survive a re-run whose
    # frame is legitimately empty (round-5 review finding)
    part_dir = os.path.join(path, f"increment={inc}")
    if os.path.isdir(part_dir):
        import shutil

        shutil.rmtree(part_dir)
    # cap the per-increment file fan-out (guide §6): the store frames
    # inherit the shuffle/createDataFrame partitioning (64 near-empty
    # files per store per increment at bench scale), and per-file
    # open+commit overhead dominated the write (measured 0.35s vs
    # 0.22s warm for a 3k-row store) while also growing the small-file
    # debt compact_state exists to pay down. The repartition shuffle
    # moves only the (small) store rows, never the input scan.
    if sort_key and num_files:
        # range-sorted layout (PLANS §13/§16, guide §6): each of this
        # increment's files covers a disjoint, tight ``sort_key`` range
        # so parquet footer min/max stats let the next increment's
        # probe skip files wholesale (see _incremental_uniqueness).
        # Same shuffle volume as the plain repartition it replaces —
        # only the partitioner changes.
        df = df.repartitionByRange(
            num_files, F.col(sort_key)
        ).sortWithinPartitions(sort_key)
    elif num_files:
        df = df.repartition(num_files)
    (
        df.withColumn("increment", F.lit(inc))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("increment")
        .parquet(path)
    )


def _read_store(
    spark: SparkSession, path: str, schema=None
) -> DataFrame | None:
    """Read a state store; a missing dir (or one with no parquet files
    — partitionBy writes nothing for an empty frame, so a clean corpus
    legitimately produces a file-less violations store) falls back to
    an empty frame of ``schema`` (+ the increment partition column)
    when given, else None.

    Only the genuinely-empty case falls back: a store that HAS parquet
    files but fails to read (corrupt footer, IO error) propagates —
    treating it as 'never written' would silently skip merged checks
    (e.g. an unreadable key index would pass every cross-increment
    duplicate) and produce false-pass results."""
    if os.path.isdir(path) and _parquet_file_count(path, first_only=True):
        return spark.read.parquet(path)
    if schema is None:
        return None
    from pyspark.sql import types as T

    if isinstance(schema, T.StructType):
        schema = T.StructType(
            list(schema.fields)
            + [T.StructField("increment", T.IntegerType(), True)]
        )
    return local_frame(spark, [], schema)


def validate_incremental(
    spark: SparkSession,
    documents_path: str,
    state_dir: str,
    catalog: DataFrame | None = None,
    rule_set: "list[R.Rule] | None" = None,
    key_column: str = "doc_id",
    with_profile: bool = True,
    rule_version: str = "v1",
    drift_baseline: "dict | str | None" = None,
    drift_signals=None,
    drift_ks_threshold: float = 0.1,
    drift_psi_threshold: float = 0.2,
    drift_group_by: "str | None" = None,
) -> IncrementalResult:
    """Validate the files of ``documents_path`` appended since the
    last call with the same ``state_dir``; merge with the persisted
    state and return the CORPUS-level result. First call = bootstrap
    (every file is delta, semantics equal a full run_validation).

    Contract: append-only input (a removed or rewritten file raises;
    after a row-preserving compaction run ``rebase_after_compaction``
    to re-point the state with checksum verification) and a frozen
    schema (schema drift raises; run drift.schema_drift first). ``catalog`` is treated as static; if the catalog loses
    refs, previously-validated docs are NOT re-checked — re-bootstrap
    for that.

    Scale note: per-increment verdicts are collected driver-side (one
    row per DELTA partition x rule) — fine for deltas, which are small
    by definition. Bootstrapping an already-huge corpus (~8M+
    partitions) through this function would hit the driver-row problem
    run_validation's spill mode exists for: bootstrap such a corpus in
    file batches (several calls), or adopt incremental mode when the
    corpus is created.
    """
    mpath = os.path.join(state_dir, _MANIFEST)
    _refuse_crashed_compaction(state_dir)
    manifest = (
        json.load(open(mpath)) if os.path.exists(mpath)
        else {"files": [], "increment": -1, "schema": None,
              "rule_version": rule_version}
    )
    if manifest.get("rule_version", rule_version) != rule_version:
        raise ValueError(
            f"rule_version changed ({manifest.get('rule_version')} -> "
            f"{rule_version}): previously-validated increments were "
            "checked under different rules and cannot merge — "
            "re-bootstrap with a fresh state_dir"
        )
    # profile/drift participation must be consistent across increments:
    # an increment that skips them would silently VANISH from every
    # future merged metric / corpus digest (the merges read only what
    # was stored) while the results still claim corpus-level coverage
    # drift_group_by participates too (round-5 review): switching the
    # cohort COLUMN (or cohort<->table mode) would merge digests keyed
    # by different dimensions into one corpus sketch
    modes = {"with_profile": bool(with_profile),
             "drift": drift_baseline is not None,
             "drift_group_by": drift_group_by}
    stored_modes = manifest.get("modes")
    if stored_modes is not None:
        # manifests written before the key existed ran table-level
        stored_modes.setdefault("drift_group_by", None)
    if stored_modes is not None and stored_modes != modes:
        raise ValueError(
            f"profile/drift participation changed ({stored_modes} "
            f"-> {modes}): increments that skip a merged family drop "
            "out of the corpus-level result silently — keep the flags "
            "consistent for the state_dir's lifetime, or re-bootstrap"
        )
    full, all_files, delta_files = _file_delta(
        spark, documents_path, manifest,
        "if this was a row-preserving compaction, run "
        "rebase_after_compaction() first; otherwise start a fresh "
        "state_dir or run a full validation",
    )
    inc = int(manifest["increment"]) + 1

    if not delta_files:
        # nothing new: return the stored merged state, zero scans of
        # the corpus
        verdicts = _read_store(spark, os.path.join(state_dir, "verdicts"))
        if verdicts is None:
            raise ValueError(
                f"no files under {documents_path} and no prior state "
                f"at {state_dir}"
            )
        return IncrementalResult(
            verdicts,
            _read_store(
                spark, os.path.join(state_dir, "violations"),
                R.VIOLATION_SCHEMA,
            ),
            _read_store(spark, os.path.join(state_dir, "metrics")),
            _read_store(
                spark, os.path.join(state_dir, "lineage"), LINEAGE_SCHEMA
            ),
            increment=int(manifest["increment"]),
            n_delta_files=0,
            delta_rows=0,
        )

    # basePath restores hive-partition columns (corpus at /data
    # partitioned by ds=…): reading leaf files alone disables partition
    # discovery, so every increment — bootstrap included — would
    # silently validate/profile WITHOUT the ds column while a full
    # run_validation over the same path sees it
    delta = (
        spark.read.option("basePath", documents_path).parquet(*delta_files)
    )
    schema_str = delta.schema.simpleString()
    if manifest["schema"] is not None and manifest["schema"] != schema_str:
        raise ValueError(
            "schema drift between increments: stored "
            f"{manifest['schema']} vs delta {schema_str}; incremental "
            "state cannot merge across schemas — see "
            "drift.schema_drift, then re-bootstrap"
        )

    from .validate import DEFAULT_RULES

    rule_set = rule_set if rule_set is not None else list(DEFAULT_RULES)
    row_rules = R.row_level(rule_set)
    snapshot_id = f"inc-{inc}"

    # ---- one fused scan of the DELTA: row rules + profile partials ----
    preds = [(r.rule_id, R.compile_rule(r, delta)) for r in row_rules]
    plan = (
        build_partial_profile(
            delta, detect_formats=False, fused_quantiles=True
        )
        if with_profile
        else None
    )
    per_part = R.per_partition_rule_aggregate(
        delta, preds, plan.exprs if plan else ()
    ).persist()
    new_verdicts: list[DataFrame] = []
    new_violations: list[DataFrame] = []
    lineage_rows: list[DataFrame] = []
    try:
        part_totals = {
            int(r["partition_id"]): int(r["row_count"])
            for r in per_part.select("partition_id", "row_count").collect()
        }
        delta_rows = sum(part_totals.values())

        # ---- phases run CONCURRENTLY (r6): the per-partition totals
        # above are the only cross-phase dependency, so once collected,
        # row-rules verdict assembly, the key-index uniqueness join,
        # the referential join, the drift sketch AND the profile-
        # partials store write are all independent chains of small
        # jobs — sequential submission left the cluster idle in each
        # chain's tail (same rationale as run_validation's phase pool;
        # the delta increment's cost is mostly fixed per-job overhead,
        # measured ~11s for a 50k-doc delta of sub-second jobs).
        def rr_task():
            import time as _time

            t0 = _time.perf_counter()
            rr_v = R.verdicts_from_per_partition(
                per_part, [rid for rid, _ in preds]
            )
            rr_rows = [tuple(r) for r in rr_v.collect()]
            rr_v = local_frame(spark, rr_rows, R.VERDICT_SCHEMA)
            rr_viol = R.violation_rows(delta, preds, key_column).withColumn(
                "detail", F.lit(f"inc={inc}")
            )
            lin = lineage_from_verdicts(
                spark, rr_rows, "row_rules", snapshot_id, rule_version,
                duration_s=round(_time.perf_counter() - t0, 3),
            )
            return rr_v, rr_viol, lin

        def uniq_task():
            import time as _time

            # uniqueness vs the key-location index (no corpus rescan)
            t0 = _time.perf_counter()
            uniq_v, uniq_viol, d_loc = _incremental_uniqueness(
                spark, delta, state_dir, key_column, inc, part_totals
            )
            lin = lineage_from_verdicts(
                spark, [tuple(r) for r in uniq_v.collect()],
                "uniqueness", snapshot_id, rule_version,
                duration_s=round(_time.perf_counter() - t0, 3),
            )
            return uniq_v, uniq_viol, lin, d_loc

        def ref_task():
            import time as _time

            # referential over the delta only (catalog is static)
            t0 = _time.perf_counter()
            ref_v, ref_viol = refcheck.referential_check(
                delta, catalog, partition_totals=dict(part_totals)
            )
            ref_viol = ref_viol.withColumn("detail", F.coalesce(
                F.col("detail"), F.lit(f"inc={inc}")
            ))
            lin = lineage_from_verdicts(
                spark, [tuple(r) for r in ref_v.collect()],
                "referential", snapshot_id, rule_version,
                duration_s=round(_time.perf_counter() - t0, 3),
            )
            return ref_v, ref_viol, lin

        def drift_task():
            import time as _time

            # distribution drift: sketch the DELTA, merge digests — the
            # CORPUS-level digest is the merge of every increment's
            # digests (t-digest merge is associative); old increments
            # are never re-sketched, never re-read
            t0 = _time.perf_counter()
            d_v, d_viol = _incremental_drift(
                spark, delta, state_dir, inc, drift_baseline,
                drift_signals, drift_ks_threshold, drift_psi_threshold,
                group_by=drift_group_by,
            )
            lin = lineage_from_verdicts(
                spark, [tuple(r) for r in d_v.collect()],
                "drift", snapshot_id, rule_version,
                duration_s=round(_time.perf_counter() - t0, 3),
            )
            return d_v, d_viol, lin

        def partials_task():
            # profile partials ride the (already cached) fused scan:
            # write this increment's rows, then re-merge the history
            keep = [
                c for c in per_part.columns if not c.startswith("viol_")
            ]
            _write_inc(
                per_part.select(*keep),
                os.path.join(state_dir, "partials"), inc,
            )
            hist = spark.read.parquet(os.path.join(state_dir, "partials"))
            missing = [
                a for a, _, _, _ in plan.specs if a not in hist.columns
            ]
            if missing:
                raise ValueError(
                    f"stored partials at {state_dir}/partials lack "
                    f"aliases {missing[:5]} — partials from an "
                    "incompatible engine version; re-bootstrap"
                )
            prof = finalize_partial_profile(hist, plan)
            m = prof.metrics_df(spark)
            m.write.mode("overwrite").parquet(
                os.path.join(state_dir, "metrics")
            )
            return m

        from concurrent.futures import ThreadPoolExecutor

        metrics = None
        with ThreadPoolExecutor(max_workers=5) as pool:
            f_rr = pool.submit(rr_task) if preds else None
            f_uniq = pool.submit(uniq_task)
            f_ref = (
                pool.submit(ref_task)
                if catalog is not None and "spans" in delta.columns
                else None
            )
            f_drift = (
                pool.submit(drift_task)
                if drift_baseline is not None
                else None
            )
            f_partials = (
                pool.submit(partials_task) if plan is not None else None
            )
            if f_rr is not None:
                rr_v, rr_viol, rr_lin = f_rr.result()
                new_verdicts.append(rr_v)
                new_violations.append(rr_viol)
                lineage_rows.append(rr_lin)
            uniq_v, uniq_viol, uniq_lin, delta_loc = f_uniq.result()
            new_verdicts.append(uniq_v)
            new_violations.append(uniq_viol)
            lineage_rows.append(uniq_lin)
            if f_ref is not None:
                ref_v, ref_viol, ref_lin = f_ref.result()
                new_verdicts.append(ref_v)
                new_violations.append(ref_viol)
                lineage_rows.append(ref_lin)
            if f_drift is not None:
                d_v, d_viol, d_lin = f_drift.result()
                new_verdicts.append(d_v)
                new_violations.append(d_viol)
                lineage_rows.append(d_lin)
            if f_partials is not None:
                metrics = f_partials.result()

        # ---- persist the increment (all partitioned by increment) ----
        verdicts_inc = new_verdicts[0]
        for v in new_verdicts[1:]:
            verdicts_inc = verdicts_inc.unionByName(v)
        violations_inc = new_violations[0]
        for v in new_violations[1:]:
            violations_inc = violations_inc.unionByName(v)
        lineage_inc = lineage_rows[0]
        for l in lineage_rows[1:]:
            lineage_inc = lineage_inc.unionByName(l)
        # the four stores are independent: write them concurrently
        # (Spark job submission is thread-safe; same rationale as
        # sources.write_outputs_parallel)
        with ThreadPoolExecutor(max_workers=4) as wpool:
            futs = [
                wpool.submit(
                    _write_inc, df, os.path.join(state_dir, name), inc,
                    sort_key=sk,
                )
                for df, name, sk in (
                    (verdicts_inc, "verdicts", None),
                    (violations_inc, "violations", None),
                    (lineage_inc, "lineage", None),
                    # range-sorted on the key: the next increment's
                    # index probe prunes to the delta's key range
                    (delta_loc, "key_index", "doc_id"),
                )
            ]
            for fut in futs:
                fut.result()
        # checksum reads the cached aggregate, not the input
        d_rows, d_hash = _key_checksum(delta_loc)
        delta_loc.unpersist()
    finally:
        per_part.unpersist()

    # running key checksum (additive, computed above from the cached
    # key-location aggregate): lets rebase_after_compaction verify a
    # rewritten corpus. Only carried when the manifest already has one
    # (or this is the bootstrap increment) — minting one from a zero
    # base on pre-checksum state would cover only this delta and make
    # a later verify=True rebase fail misleadingly (round-5 ADVICE,
    # same class as the neardup manifest)
    old_ck = manifest.get("checksum")
    if old_ck is not None or int(manifest["increment"]) == -1:
        base_ck = old_ck or {"rows": 0, "hash": 0}
        checksum = {
            "rows": int(base_ck["rows"]) + d_rows,
            "hash": int(base_ck["hash"]) + d_hash,
            "key_column": key_column,
        }
    else:
        checksum = None

    # manifest LAST: a crash above leaves the old manifest, and the
    # re-run dynamically overwrites this increment's partitions
    prior_expired = manifest.get("expired_through")
    manifest = {
        "files": all_files,
        "increment": inc,
        "schema": schema_str,
        "rule_version": rule_version,
        "modes": modes,
    }
    if checksum is not None:
        manifest["checksum"] = checksum
    if prior_expired is not None:
        # retention watermark (expire_increments) survives increments
        manifest["expired_through"] = prior_expired
    _commit_manifest(mpath, manifest)

    return IncrementalResult(
        _read_store(
            spark, os.path.join(state_dir, "verdicts"), R.VERDICT_SCHEMA
        ),
        _read_store(
            spark, os.path.join(state_dir, "violations"), R.VIOLATION_SCHEMA
        ),
        metrics,
        _read_store(
            spark, os.path.join(state_dir, "lineage"), LINEAGE_SCHEMA
        ),
        increment=inc,
        n_delta_files=len(delta_files),
        delta_rows=delta_rows,
    )


def history_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """Validation-over-time: one row per (increment, rule_id) from the
    persisted stores — rows checked, violations, pass — plus each
    increment's ``__all__`` rollup. The view an operator of a
    continuously-appended corpus actually watches (is violation rate
    creeping? did increment 17 introduce the dup storm?), computed
    from the tiny verdict store only; no corpus data is touched.

    Columns: increment, rule_id, row_count, violation_count, pass.
    After ``expire_increments``, ``increment=-1`` rows are the rolled
    base: per-rule totals of all expired history, so grand totals over
    the whole report are invariant under retention.
    """
    _refuse_crashed_compaction(state_dir)
    verdicts = _read_store(spark, os.path.join(state_dir, "verdicts"))
    if verdicts is None:
        raise ValueError(f"no incremental state at {state_dir}")
    per = verdicts.groupBy("increment", "rule_id").agg(
        F.sum("row_count").alias("row_count"),
        F.sum("violation_count").alias("violation_count"),
        (F.sum((~F.col("pass")).cast("long")) == 0).alias("pass"),
    )
    rollup = verdicts.groupBy("increment").agg(
        F.lit("__all__").alias("rule_id"),
        F.sum("row_count").alias("row_count"),
        F.sum("violation_count").alias("violation_count"),
        (F.sum((~F.col("pass")).cast("long")) == 0).alias("pass"),
    ).select("increment", "rule_id", "row_count", "violation_count", "pass")
    return per.unionByName(rollup).orderBy("increment", "rule_id")


_COMPACTABLE_STORES = (
    "verdicts", "violations", "lineage", "key_index", "partials",
    "sketches", "sketches_grouped",
    # dedup.incremental_neardup state (same per-increment layout;
    # stores absent from a given state_dir are skipped)
    "banded", "bucket_counts", "pairs",
)


def _swap_store(
    live: str,
    frame: DataFrame,
    n_files: int = 4,
    sort_key: "str | None" = None,
) -> None:
    """THE two-rename crash-swap for state stores, shared by
    ``compact_state`` and ``expire_increments``: write ``frame`` to
    ``<store>.compact_tmp`` (coalesced to ``n_files`` tasks), rename
    the live dir to ``<store>.compact_bak``, rename tmp in, drop the
    backup. A crash mid-swap leaves the backup, which every reader
    refuses (``_refuse_crashed_compaction``) and the next
    ``compact_state`` call restores — keep that recovery loop in sync
    if the protocol here ever changes.

    ``sort_key``: stores written range-sorted (the key index) must
    stay prunable after a rewrite — rows are re-sorted by
    (increment, sort_key) inside each coalesced task so row-group
    min/max stats remain tight even when an increment collapses to a
    single file."""
    import shutil

    tmp = live + _COMPACT_TMP
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    out = frame.coalesce(n_files)
    if sort_key:
        out = out.sortWithinPartitions("increment", sort_key)
    out.write.mode("overwrite").partitionBy("increment").parquet(tmp)
    bak = live + _COMPACT_BAK
    os.rename(live, bak)
    os.rename(tmp, live)
    shutil.rmtree(bak)


def _parquet_file_count(path: str, first_only: bool = False) -> int:
    """Count data files under a store, mirroring Spark's hidden-path
    filter (_temporary/ leftovers and dot/underscore-prefixed entries
    are NOT data — counting them would make a crashed store write
    raise UNABLE_TO_INFER_SCHEMA forever instead of recovering).
    ``first_only`` early-exits at 1 — the emptiness probe
    ``_read_store`` uses."""
    n = 0
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(
            1 for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if first_only and n:
            return n
    return n


def compact_state(
    spark: SparkSession,
    state_dir: str,
    files_per_increment: int = 1,
) -> "dict[str, tuple[int, int]]":
    """Rewrite the per-increment state stores so each increment
    partition holds at most ``files_per_increment`` parquet files.
    Returns {store: (files_before, files_after)} for every store it
    touched (untouched stores report equal counts).

    Why this matters at scale: every increment writes each store with
    the session's shuffle-partition fan-out, so after K increments a
    store holds O(K x shuffle_partitions) tiny files — and every later
    merge (the key-index join, the partials re-merge, the digest
    history read) pays per-file open/footer cost. This is the
    STATE-side small-file problem, the twin of the corpus-side
    compaction ``rebase_after_compaction`` exists for. Rows, the
    ``increment`` partition layout, and crash-idempotency semantics
    are preserved exactly — only file counts change.

    Crash safety: each store is rewritten to ``<store>.compact_tmp``
    first, then swapped in two renames with a ``<store>.compact_bak``
    backup. A crash mid-swap leaves the backup; the next
    ``compact_state`` call restores it before doing anything else, and
    ``validate_incremental`` refuses to run while a backup exists
    (an absent key index would otherwise silently pass every
    cross-increment duplicate). Run between increments, not
    concurrently with one."""
    import shutil

    if not os.path.isdir(state_dir):
        raise ValueError(f"no incremental state at {state_dir}")
    if files_per_increment < 1:
        raise ValueError("files_per_increment must be >= 1")
    # recovery from a previous crashed compaction, before any rewrite
    for store in _COMPACTABLE_STORES:
        live = os.path.join(state_dir, store)
        bak = live + _COMPACT_BAK
        tmp = live + _COMPACT_TMP
        if os.path.isdir(bak):
            if os.path.isdir(live):
                # crashed after the swap completed, before cleanup:
                # live is the compacted store, the backup is stale
                shutil.rmtree(bak)
            else:
                # crashed between the two renames: restore the backup
                os.rename(bak, live)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)

    report: dict[str, tuple[int, int]] = {}
    for store in _COMPACTABLE_STORES:
        live = os.path.join(state_dir, store)
        if not os.path.isdir(live):
            continue
        before = _parquet_file_count(live)
        if before == 0:
            continue
        # the hive layout answers the idempotency check locally — no
        # Spark job for stores that are already compact (the common
        # repeated-call case)
        n_incs = sum(
            1 for d in os.listdir(live) if d.startswith("increment=")
        )
        if before <= n_incs * files_per_increment:
            report[store] = (before, before)
            continue
        df = _read_store(spark, live)
        # coalesce(k) + partitionBy: k tasks each write one file per
        # increment directory they hold rows for — ≤ k files/increment.
        # key_index keeps its range-sorted layout through the rewrite
        # (row-group-level pruning survives compaction)
        _swap_store(
            live, df, files_per_increment,
            sort_key="doc_id" if store == "key_index" else None,
        )
        report[store] = (before, _parquet_file_count(live))
    return report


def rebase_after_compaction(
    spark: SparkSession,
    documents_path: str,
    state_dir: str,
    verify: bool = True,
    manifest_name: str = _MANIFEST,
) -> int:
    """Re-point incremental state at a COMPACTED corpus (files
    rewritten, row multiset unchanged) — the operation the append-only
    contract otherwise forbids. Compaction is routine at 100-TB scale
    (Iceberg rewrite_data_files), and none of the persisted state
    actually depends on file identity: verdicts/violations are facts
    about rows, the key index is per-key, partials are per-(increment,
    partition). Only the manifest's file inventory goes stale.

    With ``verify`` (default), the compacted corpus's key multiset is
    checked against the manifest's running checksum — ONE key-only
    columnar scan (the cheap pass compaction already paid for) — and a
    mismatch raises instead of silently validating against different
    data. The checksum covers the KEY multiset only; a rewrite that
    corrupted non-key columns while preserving keys passes undetected
    — for full re-verification, re-bootstrap. Rebase against a
    snapshot that ONLY compacted: if the same snapshot also appended
    rows, the checksum won't match (validate the pre-compaction
    snapshot first, or compact and append in separate snapshots, as
    Iceberg's rewrite_data_files does). Returns the number of files in
    the new inventory.

    ``manifest_name`` selects which protocol's manifest to re-point:
    the default is validation state; ``dedup.
    rebase_neardup_after_compaction`` passes the near-dup manifest
    (same file-inventory + additive-checksum layout)."""
    mpath = os.path.join(state_dir, manifest_name)
    if not os.path.exists(mpath):
        raise ValueError(f"no incremental state at {state_dir}")
    _refuse_crashed_compaction(state_dir)
    manifest = json.load(open(mpath))
    full = spark.read.parquet(documents_path)
    all_files = sorted(full.inputFiles())
    ck = manifest.get("checksum")
    if verify:
        if not ck:
            raise ValueError(
                "manifest has no checksum (state from an engine version "
                "before rebase support) — cannot verify; re-bootstrap "
                "or pass verify=False at your own risk"
            )
        key_column = ck.get("key_column", "doc_id")
        loc = (
            full.select(F.col(key_column).cast("string").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        rows, hsh = _key_checksum(loc)
        if rows != int(ck["rows"]) or hsh != int(ck["hash"]):
            raise ValueError(
                "compacted corpus does not match the validated state: "
                f"rows {rows} vs {ck['rows']}, key-hash {hsh} vs "
                f"{ck['hash']} — the rewrite changed the row multiset; "
                "re-bootstrap instead of rebasing"
            )
    manifest["files"] = all_files
    _commit_manifest(mpath, manifest)
    return len(all_files)


def expire_increments(
    spark: SparkSession,
    state_dir: str,
    keep_last: int = 8,
    archive_dir: "str | None" = None,
) -> dict:
    """Bound per-increment HISTORY growth: roll verdict and lineage
    rows of increments older than the newest ``keep_last`` into one
    base partition (``increment=-1``) and drop — or move to
    ``archive_dir`` — their violation rows.

    Why this is the last piece of the unbounded-state story: the
    merged families are already size-bounded (``key_index`` ~ one row
    per corpus key, ``partials``/``sketches`` ~ O(partitions x columns)
    per increment, both file-compactable via ``compact_state``), but
    verdicts/violations/lineage keep one row per historical event
    FOREVER — after years of hourly snapshots the state outgrows the
    deltas it serves. Expired history collapses to per-rule totals
    (``partition_id=-1``, exactly the aggregate ``history_report``
    derived from it), so grand totals across the whole report are
    preserved; violation ROWS — the one store that grows with data
    quality, not increment count — are appended to ``archive_dir``
    (cold storage) or dropped.

    NOT touched, by design: ``key_index`` (cross-increment uniqueness
    needs every key's location forever), ``partials`` (metrics
    re-merge), ``sketches``/``sketches_grouped`` (corpus drift
    digests), ``metrics``. Expiry bounds the *history*, never the
    merged state the next increment's correctness depends on — pinned
    by the post-expiry promotion test.

    Crash safety: each store is rewritten with the same two-rename
    ``.compact_tmp``/``.compact_bak`` swap as ``compact_state``, so a
    crash mid-swap is refused by every reader and recovered by the
    next ``compact_state`` call. Archiving is at-least-once: a crash
    between the archive append and the swap re-archives the same rows
    on retry — dedupe downstream on (doc_id, rule_id, detail,
    increment) if the archive must be exactly-once.

    Returns ``{store: (rows_expired, rows_after)}`` plus
    ``expired_through`` (highest increment id ever expired for this
    state, -1 if none; also recorded in the manifest and preserved by
    later increments). ``rows_expired`` counts only rows from real
    expiring increments — a prior ``-1`` base is re-merged, not
    expired, so it is excluded."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    mpath = os.path.join(state_dir, _MANIFEST)
    if not os.path.exists(mpath):
        raise ValueError(f"no incremental state at {state_dir}")
    _refuse_crashed_compaction(state_dir)
    manifest = json.load(open(mpath))
    latest = int(manifest["increment"])
    cutoff = latest - keep_last + 1
    # never regresses: keep_last growing between calls must not make
    # the recorded watermark move backwards
    through = max(cutoff - 1, int(manifest.get("expired_through", -1)))
    report: dict = {"expired_through": through}
    if cutoff <= 0:
        return report

    expired = F.col("increment") < cutoff  # includes a prior -1 base
    # a REAL increment partition (not the -1 base) inside the expiry
    # window; counted per store so (a) the report never counts base
    # rows that are merely re-merged, and (b) a crash between two
    # stores' swaps cannot wedge the later stores unexpired (the
    # re-run sees the first store already clean and must NOT
    # early-return for the rest)
    newly_expired = expired & (F.col("increment") >= 0)

    # ---- verdicts: expired rows -> one per-rule total row ----
    live = os.path.join(state_dir, "verdicts")
    v = _read_store(spark, live)
    if v is None:
        raise ValueError(f"no incremental state at {state_dir}")
    n_exp = v.filter(newly_expired).count()
    if n_exp:
        base_v = (
            v.filter(expired)
            .groupBy("rule_id")
            .agg(
                F.sum("row_count").alias("row_count"),
                F.sum("violation_count").alias("violation_count"),
            )
            .select(
                F.lit(-1).cast("int").alias("partition_id"),
                "rule_id",
                "row_count",
                "violation_count",
                (F.col("violation_count") == 0).alias("pass"),
                F.lit(-1).cast("int").alias("increment"),
            )
        )
        _swap_store(live, v.filter(~expired).unionByName(base_v))
        report["verdicts"] = (n_exp, _read_store(spark, live).count())

    # ---- lineage: expired rows -> per-(phase, op) total rows ----
    live = os.path.join(state_dir, "lineage")
    lin = _read_store(spark, live)
    n_exp = 0 if lin is None else lin.filter(newly_expired).count()
    if n_exp:
        base_l = (
            lin.filter(expired)
            .groupBy("phase", "op")
            .agg(
                F.max("rule_version").alias("rule_version"),
                F.max("ts").alias("ts"),
                F.sum("duration_s").alias("duration_s"),
                F.sum("row_count").alias("row_count"),
                F.sum("violation_count").alias("violation_count"),
            )
            .select(
                "phase",
                F.lit(-1).cast("int").alias("partition_id"),
                F.lit(f"expired<={through}").alias("snapshot_id"),
                "rule_version", "ts", "duration_s", "op",
                "row_count", "violation_count",
                F.lit(-1).cast("int").alias("increment"),
            )
        )
        _swap_store(live, lin.filter(~expired).unionByName(base_l))
        report["lineage"] = (n_exp, _read_store(spark, live).count())

    # ---- violations: archive (optional), then drop expired rows ----
    live = os.path.join(state_dir, "violations")
    viol = _read_store(spark, live)
    n_exp = 0 if viol is None else viol.filter(newly_expired).count()
    if n_exp:
        if archive_dir is not None:
            viol.filter(newly_expired).write.mode("append").parquet(
                archive_dir
            )
            report["archive_dir"] = archive_dir
        _swap_store(live, viol.filter(~expired))
        kept = _read_store(spark, live)
        report["violations"] = (n_exp, 0 if kept is None else kept.count())

    manifest["expired_through"] = through
    _commit_manifest(mpath, manifest)
    return report


def _incremental_drift(
    spark: SparkSession,
    delta: DataFrame,
    state_dir: str,
    inc: int,
    drift_baseline,
    drift_signals,
    ks_threshold: float,
    psi_threshold: float,
    group_by: "str | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Corpus-vs-baseline drift in incremental mode: sketch ONLY the
    delta's signal columns, persist the digests per increment, merge
    every increment's digests into the corpus digest (associative
    t-digest merge), and compare that against the baseline with the
    batch drift path (drift.resolve_drift_config, sketch_columns,
    drift_report_sketches). Verdict/violation shapes match
    run_validation's drift phase (partition_id -1, rule_id
    drift_<col>, one violation row per drifted column).

    ``group_by``: COHORT drift — digests are per (group, column),
    merged across increments into a per-cohort corpus digest and
    compared against a grouped baseline; rule ids follow the full
    path's ``drift_<col>[<group>]``. The per-increment stores are
    mode-specific (``sketches`` vs ``sketches_grouped``), so switching
    modes mid-state raises: the other mode's history cannot be folded
    into this mode's corpus digest and a silent partial sketch would
    report drift against a fraction of the corpus."""
    from . import drift as DR

    grouped = group_by is not None
    name, other = (
        ("sketches_grouped", "sketches") if grouped
        else ("sketches", "sketches_grouped")
    )
    if os.path.exists(os.path.join(state_dir, other)):
        raise ValueError(
            f"incremental drift: this state_dir holds the other drift "
            f"mode's per-increment sketches ('{other}'); with "
            f"drift_group_by={group_by!r} they cannot fold into this "
            "mode's corpus digest — re-bootstrap with a fresh state_dir "
            "to switch drift modes"
        )
    store = os.path.join(state_dir, name)
    target = drift_signals(delta) if drift_signals else delta
    baseline, cols = DR.resolve_drift_config(
        spark, drift_baseline, target, group_by=group_by
    )
    rows = [
        (g, c, d.serialize())
        for g, gcols in DR.as_cohorts(
            DR.sketch_columns(target, cols, group_by=group_by)
        ).items()
        for c, d in gcols.items()
    ]
    if rows:
        # a 0-row delta sketches no cohort — writing the empty frame
        # would leave a file-less store that the history read below
        # cannot infer a schema from, wedging the state
        inc_df = local_frame(
            spark, rows, "group string, column string, sketch string"
        )
        _write_inc(inc_df if grouped else inc_df.drop("group"), store, inc)
    hist = _read_store(spark, store)
    merged: dict = {}
    for r in [] if hist is None else hist.collect():
        d = DR.TDigest.deserialize(r["sketch"])
        gcols = merged.setdefault(r["group"] if grouped else None, {})
        gcols[r["column"]] = (
            gcols[r["column"]].merge(d) if r["column"] in gcols else d
        )
    report = DR.drift_report_sketches(
        merged, baseline, cols,
        ks_threshold=ks_threshold, psi_threshold=psi_threshold,
    )
    v_rows, viol_rows = DR.drift_report_rows(report, inc=inc)
    return (
        local_frame(spark, v_rows, R.VERDICT_SCHEMA),
        local_frame(spark, viol_rows, R.VIOLATION_SCHEMA),
    )


def _incremental_uniqueness(
    spark: SparkSession,
    delta: DataFrame,
    state_dir: str,
    key_column: str,
    inc: int,
    part_totals: dict[int, int],
    rule_id: str = "unique_doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Uniqueness for the delta against the persisted key-location
    index. Returns (verdicts, violations, delta_loc) where delta_loc
    is the (doc_id, partition_id, cnt) aggregate to append to the
    index.

    Invariant maintained by induction: after increment k, the stored
    violations contain exactly one row per OCCURRENCE of every key
    whose running total exceeds 1. So this increment must emit
    (a) every delta occurrence of a key whose merged total > 1, and
    (b) the single OLD occurrence of keys the delta just promoted to
    duplicate (old total was exactly 1 — old totals >= 2 were fully
    reported when they happened). Both derive from delta keys joined
    against the index: the raw corpus is never re-read. The index
    store is written RANGE-SORTED on doc_id (_write_inc sort_key), so
    the probe first narrows the index scan to the delta's
    [min, max] key range — a pushed-down predicate that parquet footer
    min/max stats turn into whole-file skips (O(delta key range), not
    O(corpus); pinned by test_plans.py::
    test_incremental_key_index_probe_prunes_files) — and then
    broadcast-joins the delta key set, so the corpus-sized side is
    neither shuffled nor (beyond the surviving range) read."""
    delta_loc = (
        delta.select(
            F.col(key_column).cast("string").alias("doc_id"),
            F.spark_partition_id().cast("int").alias("partition_id"),
        )
        .groupBy("doc_id", "partition_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    delta_tot = delta_loc.groupBy("doc_id").agg(
        F.sum("cnt").alias("new_cnt")
    )
    idx = _read_store(spark, os.path.join(state_dir, "key_index"))
    if idx is not None:
        # crash-recovery: a crashed attempt at THIS increment may have
        # written its key_index partition before dying (manifest is
        # committed last) — reading it back would count every delta
        # key against itself and report the whole delta as duplicates
        idx = idx.filter(F.col("increment") < inc)
        # narrow the index scan to the delta's key range BEFORE the
        # join: the index is stored range-sorted on doc_id (_write_inc
        # sort_key), so this pushed-down between-predicate lets parquet
        # footer min/max stats skip every file whose range misses the
        # delta — any real append pattern (monotonic ids, per-source
        # prefixes) touches a narrow slice of the keyspace, making the
        # probe O(delta key range) instead of O(corpus). Equivalence:
        # the join keeps only index rows whose doc_id EQUALS a delta
        # key, and every delta key lies within [lo, hi] by definition
        # of min/max — the filter removes no potential match. The
        # bounds aggregate reads the persisted delta_loc (and is what
        # first materializes it — no extra delta scan).
        bounds = delta_loc.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        if bounds["lo"] is not None:
            idx = idx.filter(
                F.col("doc_id").between(bounds["lo"], bounds["hi"])
            )
        # broadcast the DELTA key set into the index probe when the
        # delta is small (the normal case — deltas are small by
        # definition; gated on the already-known delta row count, same
        # standard as every other verify join): without the hint the
        # planner's estimate for the cached-aggregate side can force a
        # sort-merge join that sorts the whole (corpus-sized) index —
        # measured 1.9s -> ~0.4s for a 50k-key delta vs a 1M-key index
        from . import config as _config

        delta_keys = delta_tot.select("doc_id")
        if sum(part_totals.values()) <= _config.BROADCAST_ROW_LIMIT:
            delta_keys = F.broadcast(delta_keys)
        hits = idx.join(delta_keys, "doc_id").persist()
        old_tot = hits.groupBy("doc_id").agg(F.sum("cnt").alias("old_cnt"))
    else:
        hits = None
        old_tot = local_frame(spark, [], "doc_id string, old_cnt long")
    tot = (
        delta_tot.join(old_tot, "doc_id", "left")
        .withColumn("old_cnt", F.coalesce(F.col("old_cnt"), F.lit(0)))
        .withColumn("total", F.col("new_cnt") + F.col("old_cnt"))
    )
    dup_keys = tot.filter(F.col("total") > 1).persist()
    new_viol = (
        delta_loc.join(dup_keys.select("doc_id"), "doc_id")
        .select(
            "doc_id",
            "partition_id",
            F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("_i"),
        )
        .select(
            "doc_id",
            F.lit(rule_id).alias("rule_id"),
            "partition_id",
            F.lit(f"inc={inc}").alias("detail"),
        )
    )
    if hits is not None:
        promoted = (
            hits.join(
                dup_keys.filter(F.col("old_cnt") == 1).select("doc_id"),
                "doc_id",
            )
            .select(
                "doc_id",
                F.lit(rule_id).alias("rule_id"),
                F.col("partition_id").cast("int"),
                F.concat(
                    F.lit("inc="), F.col("increment").cast("string"),
                    F.lit(";promoted_by=inc-"), F.lit(str(inc)),
                ).alias("detail"),
            )
        )
        violations = new_viol.unionByName(promoted)
    else:
        violations = new_viol
    violations = violations.localCheckpoint(eager=True)
    if hits is not None:
        hits.unpersist()
    dup_keys.unpersist()

    # verdicts: delta partitions carry their own (row_count, delta-side
    # violation count); retroactively-promoted OLD occurrences land in
    # one partition_id = -1 row (their physical partition belongs to a
    # previous increment's numbering) so per-rule totals still sum to
    # the full-revalidation count
    # one aggregation job for BOTH the per-partition delta-side counts
    # and the promoted total (was two collect jobs over the same tiny
    # checkpointed frame — pure fixed overhead at delta scale)
    delta_side: dict[int, int] = {}
    n_promoted = 0
    for r in (
        violations.groupBy(
            "partition_id", F.col("detail").contains("promoted").alias("_p")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        if r["_p"]:
            n_promoted += int(r["n"])
        else:
            delta_side[r["partition_id"]] = int(r["n"])
    rows = [
        (int(pid), rule_id, int(total), int(delta_side.get(pid, 0)),
         delta_side.get(pid, 0) == 0)
        for pid, total in sorted(part_totals.items())
    ]
    if n_promoted:
        rows.append((-1, rule_id, 0, int(n_promoted), False))
    verdicts = local_frame(spark, rows, R.VERDICT_SCHEMA)
    # delta_loc stays persisted: the caller writes it to the key index
    # (reading the cached blocks, not rescanning the delta) and then
    # unpersists it
    return verdicts, violations, delta_loc
