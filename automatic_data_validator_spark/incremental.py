"""Incremental (snapshot-delta) validation: validate ONLY the files
appended since the last validated snapshot and merge with persisted
state — the corpus is never re-read.

Why this is a first-class 100-TB feature: at 10^12 docs a full
revalidation per snapshot re-scans ~100 TB to re-check data that has
not changed. Parquet/Iceberg data files are immutable — a snapshot
appends files — so per-file verdicts stay valid forever.

An increment is ``validate._run_checks`` — the phase runner of
``run_validation`` — over the delta files, so the delta is read once
into the same check frame and every row rule, referential rule and
per-partition aggregate runs as in a full run. The checks that couple
NEW data to OLD are corpus-level; the runner calls this module's state
merges (``_IncrementMerges``) for them:

* **uniqueness** — a persisted KEY-LOCATION INDEX with one row per
  (doc_id, partition, increment): cross-increment collisions come from
  joining the delta's key set against the index, never from re-reading
  raw documents. At deployment the index should be stored bucketed on
  doc_id (``sources.write_bucketed_table``, or an Iceberg
  ``bucket(N, doc_id)`` partition transform) so this join shuffles only
  the delta side; here it is plain parquet.
* **drift** — the delta's quantile-grid sketches are stored per
  increment, and the corpus sketch is one order-insensitive merge of
  every stored increment's grid.
* **profile metrics** — the aggregate's per-partition algebraic
  partials (counts/sums/min/max/central moments/HLL sketches/quantile
  grids) are persisted per increment; ``finalize_partial_profile``
  re-merges over every increment's partials (Pébay moment merge and
  HLL register union are associative and order-insensitive) and never
  touches the input table.

This module keeps the manifest, the file delta, the state stores, the
key checksum, and compaction/retention of the stores.

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
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config
from . import rules as R
from .profile import finalize_partial_profile
from .session import local_frame
from .sources import parquet_writer
from .state import LINEAGE_SCHEMA

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


def _key_summary(loc: DataFrame) -> "tuple[int, int, str | None, str | None]":
    """(rows, hash, min key, max key) over a (doc_id, cnt) aggregate in
    one job: the key multiset checksum (a decimal(38) sum, so 10^12
    rows cannot overflow) and the key range the index probe prunes to."""
    row = loc.agg(
        F.sum("cnt"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * F.pmod(F.xxhash64("doc_id"), F.lit(_CHECKSUM_P)).cast(
                "decimal(38,0)"
            )
        ),
        F.min("doc_id"),
        F.max("doc_id"),
    ).collect()[0]
    return int(row[0] or 0), int(row[1] or 0), row[2], row[3]


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
        # probe skip files wholesale (see _IncrementMerges.uniqueness).
        # Same shuffle volume as the plain repartition it replaces —
        # only the partitioner changes.
        df = df.repartitionByRange(
            num_files, F.col(sort_key)
        ).sortWithinPartitions(sort_key)
    elif num_files:
        df = df.repartition(num_files)
    parquet_writer(
        df.withColumn("increment", F.lit(inc)), partition_by="increment"
    ).option("partitionOverwriteMode", "dynamic").parquet(path)


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
    schema (schema drift raises; run drift.schema_drift first).
    ``catalog`` is treated as static; if the catalog loses refs,
    previously-validated docs are NOT re-checked — re-bootstrap for
    that.

    The checks are run_validation's (validate._run_checks over the
    delta) with this increment's state merges. A unique_key rule must
    be on ``key_column``, the one column the key index covers; the
    uniqueness rule ids are fixed for the state_dir's lifetime (a
    state written before explicit unique_key rules were honoured
    stored ``unique_doc_id`` only). The lineage store names the
    uniqueness phase ``uniqueness_<rule_id>`` as a full run does;
    increments written before that name it ``uniqueness``. A delta of
    more input partitions than run_validation's default
    ``verdict_spill_threshold`` takes its spill mode: verdicts stay
    distributed instead of being collected to the driver.
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
    # future merged metric / corpus sketch (the merges read only what
    # was stored) while the results still claim corpus-level coverage
    # drift_group_by participates too (round-5 review): switching the
    # cohort COLUMN (or cohort<->table mode) would merge sketches keyed
    # by different dimensions into one corpus sketch. So do the
    # uniqueness rule ids: a renamed rule would split its per-rule
    # totals between the old and the new id
    from . import validate as V

    rule_set = rule_set if rule_set is not None else list(V.DEFAULT_RULES)
    uniq_ids = [r.rule_id for r in rule_set if r.kind == "unique_key"]
    off_key = [r.rule_id for r in rule_set if r.kind == "unique_key"
               and (r.column or key_column) != key_column]
    if off_key:
        raise ValueError(f"unique_key rule(s) {off_key}: the key index "
                         f"covers only key_column '{key_column}'")
    modes = {"with_profile": bool(with_profile),
             "drift": drift_baseline is not None,
             "drift_group_by": drift_group_by,
             # the runner's fallback when the rule set has none
             "unique_rules": sorted(uniq_ids) or ["unique_doc_id"]}
    stored_modes = manifest.get("modes")
    if stored_modes is not None:
        # manifests written before a key existed ran table-level drift
        # and stored every key-index verdict as unique_doc_id
        stored_modes.setdefault("drift_group_by", None)
        stored_modes.setdefault("unique_rules", ["unique_doc_id"])
    if stored_modes is not None and stored_modes != modes:
        raise ValueError(
            f"profile/drift/uniqueness participation changed ({stored_modes} "
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
        if inc == 0:
            raise ValueError(
                f"no files under {documents_path} and no prior state "
                f"at {state_dir}"
            )
        return _merged_result(
            spark, state_dir,
            _read_store(spark, os.path.join(state_dir, "metrics")),
            inc - 1, 0, 0,
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

    merges = _IncrementMerges(spark, state_dir, inc, drift_group_by)
    try:
        res = V._run_checks(
            spark, delta, catalog=catalog, rule_set=rule_set,
            key_column=key_column, ckpt=None, snapshot_id=f"inc-{inc}",
            rule_version=rule_version, with_profile=with_profile,
            check_uniqueness=True,
            verdict_spill_threshold=V._VERDICT_SPILL_THRESHOLD,
            drift_baseline=drift_baseline, drift_columns=None,
            drift_ks_threshold=drift_ks_threshold,
            drift_psi_threshold=drift_psi_threshold,
            drift_signals=drift_signals, drift_group_by=drift_group_by,
            merges=merges,
        )
        # row-rule and new uniqueness violations carry their increment
        violations = res.violations.withColumn(
            "detail", F.coalesce(F.col("detail"), F.lit(f"inc={inc}"))
        )
        path = lambda name: os.path.join(state_dir, name)  # noqa: E731
        writes = [
            lambda: _write_inc(res.verdicts, path("verdicts"), inc),
            lambda: _write_inc(violations, path("violations"), inc),
            lambda: _write_inc(res.lineage, path("lineage"), inc),
            # range-sorted on the key: the next increment's index
            # probe prunes to the delta's key range
            lambda: _write_inc(merges.loc, path("key_index"), inc,
                               sort_key="doc_id"),
        ]
        if res.metrics is not None:
            writes.append(lambda: parquet_writer(res.metrics)
                          .parquet(path("metrics")))
        # the stores are independent: write them concurrently (Spark
        # job submission is thread-safe; same rationale as
        # sources.write_outputs_parallel)
        with ThreadPoolExecutor(max_workers=len(writes)) as wpool:
            for fut in [wpool.submit(w) for w in writes]:
                fut.result()
    finally:
        merges.release()

    # manifest LAST: a crash above leaves the old manifest, and the
    # re-run dynamically overwrites this increment's partitions
    old_ck = manifest.get("checksum")
    prior_expired = manifest.get("expired_through")
    manifest = {
        "files": all_files,
        "increment": inc,
        "schema": schema_str,
        "rule_version": rule_version,
        "modes": modes,
    }
    # running key checksum (additive, computed with the probe's key
    # bounds from the key-location aggregate): lets
    # rebase_after_compaction verify a rewritten corpus. Only carried
    # when the manifest already has one (or this is the bootstrap
    # increment) — minting one from a zero base on pre-checksum state
    # would cover only this delta and make a later verify=True rebase
    # fail misleadingly (round-5 ADVICE, same class as the neardup
    # manifest)
    if old_ck is not None or inc == 0:
        base_ck = old_ck or {"rows": 0, "hash": 0}
        manifest["checksum"] = {
            "rows": int(base_ck["rows"]) + merges.checksum[0],
            "hash": int(base_ck["hash"]) + merges.checksum[1],
            "key_column": key_column,
        }
    if prior_expired is not None:
        # retention watermark (expire_increments) survives increments
        manifest["expired_through"] = prior_expired
    _commit_manifest(mpath, manifest)

    # the key-location aggregate counts every delta row once
    return _merged_result(
        spark, state_dir, res.metrics, inc, len(delta_files),
        merges.checksum[0],
    )


def _merged_result(
    spark: SparkSession,
    state_dir: str,
    metrics: "DataFrame | None",
    increment: int,
    n_delta_files: int,
    delta_rows: int,
) -> IncrementalResult:
    """The corpus-level result: every stored increment's verdicts,
    violations and lineage, with the merged ``metrics``."""

    def store(name: str, schema) -> DataFrame:
        return _read_store(spark, os.path.join(state_dir, name), schema)

    return IncrementalResult(
        store("verdicts", R.VERDICT_SCHEMA),
        store("violations", R.VIOLATION_SCHEMA),
        metrics,
        store("lineage", LINEAGE_SCHEMA),
        increment, n_delta_files, delta_rows,
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
    "banded", "pairs",
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
    parquet_writer(out, partition_by="increment").parquet(tmp)
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
    merge (the key-index join, the partials re-merge, the sketch
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
        rows, hsh, _lo, _hi = _key_summary(loc)
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

    What this bounds, and what it does not: ``key_index`` holds about
    one row per corpus key, while ``partials`` and ``sketches`` each
    grow by one partition set (O(partitions x columns) rows) per
    increment; ``compact_state`` merges their files but keeps every
    row, and expiry leaves them alone (see below). Verdicts,
    violations and lineage keep one row per historical event FOREVER
    — after years of hourly snapshots that history outgrows the
    deltas it serves. Expired history collapses to per-rule totals
    (``partition_id=-1``, exactly the aggregate ``history_report``
    derived from it), so grand totals across the whole report are
    preserved; violation ROWS — the one store that grows with data
    quality, not increment count — are appended to ``archive_dir``
    (cold storage) or dropped.

    NOT touched, by design: ``key_index`` (cross-increment uniqueness
    needs every key's location forever), ``partials`` (metrics
    re-merge), ``sketches``/``sketches_grouped`` (corpus drift
    sketches), ``metrics``. Expiry bounds the *history*, never the
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
            parquet_writer(viol.filter(newly_expired), "append").parquet(
                archive_dir
            )
            report["archive_dir"] = archive_dir
        _swap_store(live, viol.filter(~expired))
        kept = _read_store(spark, live)
        report["violations"] = (n_exp, 0 if kept is None else kept.count())

    manifest["expired_through"] = through
    _commit_manifest(mpath, manifest)
    return report


class _IncrementMerges:
    """The state merges of one increment: the hooks
    validate._run_checks calls in place of its whole-input uniqueness
    check, drift sketch and profile finalize. ``loc`` is the delta's
    (doc_id, partition_id, cnt) key-location aggregate, which the
    caller appends to the key index and then frees with ``release``;
    ``checksum`` is its (rows, hash) share of the manifest checksum."""

    def __init__(self, spark: SparkSession, state_dir: str, inc: int,
                 drift_group_by: "str | None"):
        self.spark, self.state_dir, self.inc = spark, state_dir, inc
        self.group_by = drift_group_by
        self.loc: "DataFrame | None" = None
        self._spill = False
        self.checksum = (0, 0)
        self.bounds: "list[str | None]" = [None, None]
        self._lock = threading.Lock()

    def _key_locations(self, checks: DataFrame, key: str,
                       spill: bool) -> DataFrame:
        """``loc`` over the check frame's key column, built once (two
        unique_key rules on key_column share it). The one collect of
        its checksum and key range is the job that fills it: a local
        checkpoint, or in spill mode a persisted frame, whose lost
        blocks are recomputed from their lineage."""
        with self._lock:
            if self.loc is None:
                loc = (
                    checks.select(
                        F.col(key).cast("string").alias("doc_id"),
                        F.spark_partition_id().cast("int").alias("partition_id"),
                    )
                    .groupBy("doc_id", "partition_id")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                )
                self._spill = spill
                self.loc = loc.persist() if spill else loc.localCheckpoint(
                    eager=False
                )
                rows, hsh, *self.bounds = _key_summary(self.loc)
                self.checksum = (rows, hsh)
        return self.loc

    def release(self) -> None:
        """Free ``loc``'s blocks once the key index is written."""
        if self.loc is None:
            return
        if self._spill:
            self.loc.unpersist()
        else:
            from .validate import _release_checkpoint

            _release_checkpoint(self.loc)

    def uniqueness(
        self,
        checks: DataFrame,
        key: str,
        rule_id: str,
        partition_totals,
        *,
        distributed: bool = False,
    ) -> tuple[DataFrame, DataFrame]:
        """dedup.uniqueness_check for the delta against the persisted
        key-location index: (verdicts, violations).

        Invariant maintained by induction: after increment k, the
        stored violations contain exactly one row per OCCURRENCE of
        every key whose running total exceeds 1. So this increment must
        emit (a) every delta occurrence of a key whose merged total >
        1, and (b) the single OLD occurrence of keys the delta just
        promoted to duplicate (old total was exactly 1 — old totals >=
        2 were fully reported when they happened). Both derive from
        delta keys joined against the index: the raw corpus is never
        re-read. The index store is written RANGE-SORTED on doc_id
        (_write_inc sort_key), so the probe first narrows the index
        scan to the delta's [min, max] key range — a pushed-down
        predicate that parquet footer min/max stats turn into
        whole-file skips (O(delta key range), not O(corpus); pinned by
        test_plans.py::test_incremental_key_index_probe_prunes_files) —
        and then broadcast-joins the delta key set, so the corpus-sized
        side is neither shuffled nor (beyond the surviving range) read.

        New occurrences leave with a null detail (the caller stamps
        ``inc=N``), promoted ones with ``inc=K;promoted_by=inc-N``."""
        loc = self._key_locations(checks, key, distributed)
        delta_tot = loc.groupBy("doc_id").agg(F.sum("cnt").alias("new_cnt"))
        # crash-recovery: a crashed attempt at THIS increment may have
        # written its key_index partition before dying (manifest is
        # committed last) — reading it back would count every delta
        # key against itself and report the whole delta as duplicates
        idx = _read_store(
            self.spark, os.path.join(self.state_dir, "key_index"),
            "doc_id string, partition_id int, cnt long, increment int",
        ).filter(F.col("increment") < self.inc)
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
        # bounds come from the collect that fills ``loc`` (no extra
        # delta scan).
        lo, hi = self.bounds
        if lo is not None:
            idx = idx.filter(F.col("doc_id").between(lo, hi))
        # broadcast the DELTA key set into the index probe when the
        # delta is small (the normal case — deltas are small by
        # definition; gated on the already-known delta row count, same
        # standard as every other verify join): without the hint the
        # planner's estimate for the checkpointed side can force a
        # sort-merge join that sorts the whole (corpus-sized) index —
        # measured 1.9s -> ~0.4s for a 50k-key delta vs a 1M-key index
        delta_keys = delta_tot.select("doc_id")
        if self.checksum[0] <= config.BROADCAST_ROW_LIMIT:
            delta_keys = F.broadcast(delta_keys)
        # both caches go in the finally, also when a job below fails
        hits = dup_keys = None
        try:
            hits = idx.join(delta_keys, "doc_id").persist()
            old_tot = hits.groupBy("doc_id").agg(F.sum("cnt").alias("old_cnt"))
            tot = (
                delta_tot.join(old_tot, "doc_id", "left")
                .withColumn("old_cnt", F.coalesce(F.col("old_cnt"), F.lit(0)))
                .withColumn("total", F.col("new_cnt") + F.col("old_cnt"))
            )
            dup_keys = tot.filter(F.col("total") > 1).persist()
            promoted = hits.join(
                dup_keys.filter(F.col("old_cnt") == 1).select("doc_id"), "doc_id"
            ).select(
                "doc_id",
                F.lit(rule_id).alias("rule_id"),
                F.col("partition_id").cast("int"),
                F.concat(
                    F.lit("inc="), F.col("increment").cast("string"),
                    F.lit(f";promoted_by=inc-{self.inc}"),
                ).alias("detail"),
            )
            violations = (
                loc.join(dup_keys.select("doc_id"), "doc_id")
                .select(
                    "doc_id",
                    "partition_id",
                    F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("_i"),
                )
                .select(
                    "doc_id",
                    F.lit(rule_id).alias("rule_id"),
                    "partition_id",
                    F.lit(None).cast("string").alias("detail"),
                )
                .unionByName(promoted)
            )
            # as in dedup.uniqueness_check: the per-partition count collect
            # fills the checkpoint (the distributed path fills it now).
            # Promoted OLD occurrences count in one partition_id = -1
            # verdict row (their physical partition belongs to a previous
            # increment's numbering), so per-rule totals still sum to the
            # full-revalidation count
            violations = violations.localCheckpoint(eager=distributed)
            by_pid = violations.select(
                F.when(F.col("detail").isNull(), F.col("partition_id"))
                .otherwise(F.lit(-1)).alias("partition_id"),
                "doc_id",
            )
            viol_by_pid = None if distributed else {
                r[0]: r[1] for r in by_pid.groupBy("partition_id").count().collect()
            }
        finally:
            for cached in (hits, dup_keys):
                if cached is not None:
                    cached.unpersist()
        return R.partition_verdicts(
            checks, by_pid, rule_id, partition_totals, viol_by_pid
        ), violations

    def sketches(self, sketches: dict) -> dict:
        """The corpus drift sketches: the delta's quantile grids are
        stored per increment, and the corpus grid is ONE
        order-insensitive merge of every stored increment's grid
        (drift.QuantileGrid.merge; no merge of merges, and old
        increments are never re-sketched or re-read).

        Cohort drift keeps its grids per (group, column) in its own
        store, ``sketches_grouped``, so switching modes mid-state
        raises: the other mode's history cannot be folded into this
        mode's corpus sketch and a silent partial sketch would report
        drift against a fraction of the corpus."""
        from . import drift as DR

        grouped = self.group_by is not None
        name, other = (
            ("sketches_grouped", "sketches") if grouped
            else ("sketches", "sketches_grouped")
        )
        if os.path.exists(os.path.join(self.state_dir, other)):
            raise ValueError(
                f"incremental drift: this state_dir holds the other drift "
                f"mode's per-increment sketches ('{other}'); with "
                f"drift_group_by={self.group_by!r} they cannot fold into "
                "this mode's corpus sketch — re-bootstrap with a fresh "
                "state_dir to switch drift modes"
            )
        store = os.path.join(self.state_dir, name)
        rows = DR.sketch_rows(sketches)
        if rows:
            # a 0-row delta sketches no cohort — writing the empty frame
            # would leave a file-less store that the history read below
            # cannot infer a schema from, wedging the state
            inc_df = local_frame(
                self.spark, rows, "group string, column string, sketch string"
            )
            _write_inc(inc_df if grouped else inc_df.drop("group"), store,
                       self.inc)
        hist = _read_store(self.spark, store)
        return DR.merge_sketch_rows(
            (r["group"] if grouped else None, r["column"], r["sketch"])
            for r in ([] if hist is None else hist.collect())
        )

    def profile(self, part: DataFrame, plan):
        """The corpus profile: this increment's per-partition partials
        (the 33-point quantile grid plan) are stored, then finalized
        with every stored increment's — Pébay moment merge, HLL
        register union and grid merge are order-insensitive, and the
        input table is never re-read."""
        store = os.path.join(self.state_dir, "partials")
        _write_inc(
            part.select(*[c for c in part.columns if not c.startswith("viol_")]),
            store, self.inc,
        )
        hist = self.spark.read.parquet(store)
        missing = [a for a, _, _, _ in plan.specs if a not in hist.columns]
        if missing:
            raise ValueError(
                f"stored partials at {store} lack aliases {missing[:5]} — "
                "partials from an incompatible engine version; re-bootstrap"
            )
        return finalize_partial_profile(hist, plan)
