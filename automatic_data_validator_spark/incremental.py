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

Failure atomicity: state is published by versioned manifests, never
by renames. An increment writes its partition of every store (and a
new generation of ``metrics``) and then commits them all with one
write-once ``manifest.<n>.json``; readers see only the increments and
store generations the newest manifest that parses names. A crash
before the commit leaves the prior manifest in force, and the retry
clears the uncommitted partitions and writes them again. The same
protocol serves compaction, expiry and ``dedup.incremental_neardup``
on any Hadoop filesystem (``fsio``).

Reference parity note: the reference validates a whole pandas frame
per run (data_analyzer.py:40-118); incremental mode is this engine's
scale extension of that contract, not a port.
"""

from __future__ import annotations

import json
import os
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config, fsio
from . import rules as R
from .profile import finalize_partial_profile
from .session import local_frame
from .sources import parquet_writer
from .state import LINEAGE_SCHEMA

# multiset key checksum: sum over rows of xxhash64(key) mod P, plus the
# row count — additive across increments (computed on each delta from
# the already-aggregated key-location frame) and recomputable from a
# compacted corpus in ONE key-only scan, so rebase_after_compaction can
# verify the rewrite preserved the row multiset without trusting it
_CHECKSUM_P = 2**40
# the stores each protocol's manifest names, by manifest prefix
_PROTOCOL_STORES = {
    "manifest": ("verdicts", "violations", "lineage", "key_index",
                 "partials", "sketches", "sketches_grouped", "metrics"),
    "neardup_manifest": ("banded", "pairs"),
}
_VERSIONED = re.compile(r"^(?P<name>\w+)\.(?P<v>\d+)\.json$")
_GENERATION = re.compile(r"^(?P<store>[a-z_]+)(\.g(?P<g>\d+))?$")


@dataclass
class _State:
    """One protocol's state: the newest ``<name>.<n>.json`` that parses
    (``version`` 0: an unversioned ``<name>.json``; -1: none). The
    manifest names the latest committed ``increment`` and, under
    ``stores``, each store's generation dir relative to ``state_dir``
    (``<store>``, then ``<store>.g<k>`` after k rewrites). ``newest``
    counts torn manifests too, so one never blocks the next commit."""

    state_dir: str
    name: str
    version: int
    newest: int
    manifest: dict

    @property
    def increment(self) -> int:
        return int(self.manifest["increment"])

    def gen(self, store: str) -> str:
        return self.manifest["stores"].get(store, store)

    def path(self, rel: str) -> str:
        return os.path.join(self.state_dir, rel)

    def read(self, spark: SparkSession, store: str, schema=None):
        """``store`` as the manifest commits it: its generation, only
        the committed increments."""
        return _read_store(spark, self.path(self.gen(store)), schema,
                           through=self.increment)


def _load_state(state_dir: str, name: str) -> _State:
    """Read the newest manifest of protocol ``name`` that parses. An
    unversioned ``<name>.json`` (stores at ``<store>/increment=<k>``)
    reads as version 0, whose generations are the store directories
    themselves; it refuses while an older compaction left a
    ``<store>.compact_bak`` (its two-rename swap crashed midway, and the
    store may be missing — an absent key index passes every
    cross-increment duplicate)."""
    entries = fsio.ls(state_dir)
    versions = sorted(
        (int(m["v"]) for e in entries
         if (m := _VERSIONED.match(e.name)) and m["name"] == name),
        reverse=True,
    )
    newest = versions[0] if versions else 0
    for v in versions:
        manifest = fsio.read_json(os.path.join(state_dir, f"{name}.{v}.json"))
        if isinstance(manifest, dict):
            return _State(state_dir, name, v, newest, manifest)
    legacy = fsio.read_json(os.path.join(state_dir, f"{name}.json"))
    if not isinstance(legacy, dict):
        return _State(state_dir, name, -1, newest,
                      {"files": [], "increment": -1, "stores": {}})
    crashed = sorted(e.name for e in entries if e.name.endswith(".compact_bak"))
    if crashed:
        raise ValueError(
            f"state_dir {state_dir} holds a crashed compaction "
            f"({crashed}) from an earlier engine version: rename each "
            "backup back to its store name if the store is missing, "
            "else delete the backup"
        )
    legacy["stores"] = {e.name: e.name for e in entries
                        if e.is_dir and e.name in _PROTOCOL_STORES[name]}
    # keys older manifests lack, or carry for a choice since removed:
    # table-level drift with every key-index verdict as unique_doc_id,
    # and a signature kernel whose every value signed bit-identically
    if legacy.get("modes") is not None:
        legacy["modes"].setdefault("drift_group_by", None)
        legacy["modes"].setdefault("unique_rules", ["unique_doc_id"])
    legacy.get("params", {}).pop("signature_impl", None)
    return _State(state_dir, name, 0, newest, legacy)


def _commit(st: _State, manifest: dict) -> _State:
    """THE commit of every state protocol: write ``manifest`` once as
    the next version, then delete every manifest of the protocol but
    the newest two, and every generation of its stores that the
    manifest no longer names (superseded ones, and those of crashed
    rewrites). A crash before the write leaves ``st`` in force; one
    after it leaves only garbage, which the next commit deletes."""
    v = max(st.newest, st.version) + 1
    fsio.write_once(st.path(f"{st.name}.{v}.json"), json.dumps(manifest))
    live = set(manifest["stores"].values())
    for e in fsio.ls(st.state_dir):
        m = _VERSIONED.match(e.name)
        gen = _GENERATION.match(e.name)
        if (
            (m and m["name"] == st.name and int(m["v"]) not in (v, st.version))
            or (e.name == f"{st.name}.json" and st.version != 0)
            or (e.is_dir and gen and e.name not in live
                and gen["store"] in manifest["stores"])
        ):
            fsio.delete(st.path(e.name))
    return _State(st.state_dir, st.name, v, v, manifest)


def _next_gen(st: _State, store: str) -> str:
    """The generation directory after ``store``'s committed one (the
    store's own name when none is committed yet): a retried rewrite
    lands on the same name, replacing its crashed attempt's files."""
    m = _GENERATION.match(st.manifest["stores"].get(store, ""))
    return f"{store}.g{int(m['g'] or 0) + 1}" if m else store


def _open_increment(
    spark: SparkSession, state_dir: str, name: str, input_path: str,
    pins: dict, remedy: str,
) -> "tuple[_State, DataFrame, list[str], list[str]]":
    """Load protocol ``name``'s state and diff the input's file
    inventory against it: (state, full frame, all_files, delta_files).
    ``pins`` maps each manifest key fixed for the state's lifetime to
    (value, what changed, why it cannot merge); a stored value that
    differs raises, and so does a removed/rewritten file — the
    append-only contract both incremental protocols share. At a
    deployment with millions of files, derive the delta from Iceberg
    snapshot manifests (snapshot_id diff) instead of this listing —
    callers' merge machinery is unchanged."""
    st = _load_state(state_dir, name)
    for key, (value, what, why) in pins.items():
        stored = st.manifest.get(key)
        if stored is not None and stored != value:
            raise ValueError(
                f"{what} changed between increments ({stored} -> {value}): "
                f"{why} — re-bootstrap with a fresh state_dir"
            )
    full = spark.read.parquet(input_path)
    all_files = sorted(full.inputFiles())
    known = set(st.manifest["files"])
    removed = known - set(all_files)
    if removed:
        raise ValueError(
            f"{len(removed)} validated file(s) no longer in the input "
            f"(e.g. {sorted(removed)[0]}): the append-only contract is "
            f"broken — {remedy}"
        )
    return st, full, all_files, [f for f in all_files if f not in known]


def _commit_increment(
    st: _State, all_files: "list[str]", inc: int, pinned: dict,
    checksum: "tuple[int, int]", key_column: str, stores: "dict[str, str]",
) -> _State:
    """Commit increment ``inc``: the input inventory, the pinned keys,
    the stores written (store -> generation) and the running key
    checksum, carried only when the manifest has one (or this is the
    bootstrap) — one minted on pre-checksum state would cover only this
    delta and fail a later verify=True rebase misleadingly. Other keys
    (the expiry watermark) carry over."""
    manifest = {**st.manifest, **pinned, "files": all_files, "increment": inc,
                "stores": {**st.manifest["stores"], **stores}}
    old_ck = st.manifest.get("checksum")
    if old_ck is not None or inc == 0:
        base = old_ck or {"rows": 0, "hash": 0}
        manifest["checksum"] = {
            "rows": int(base["rows"]) + checksum[0],
            "hash": int(base["hash"]) + checksum[1],
            "key_column": key_column,
        }
    return _commit(st, manifest)


def _key_summary(
    loc: DataFrame, key: "str | None" = None
) -> "tuple[int, int, str | None, str | None]":
    """(rows, hash, min key, max key) over a (doc_id, cnt) aggregate —
    or over the rows of ``loc`` keyed by column ``key`` — in one job:
    the key multiset checksum (a decimal(38) sum, so 10^12 rows cannot
    overflow) and the key range the index probe prunes to."""
    if key is not None:
        loc = loc.groupBy(F.col(key).cast("string").alias("doc_id")).agg(
            F.count(F.lit(1)).alias("cnt"))
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
        # latest increment WITH drift rows, not the global latest: an
        # increment that (somehow) carried no drift rows must not make a
        # standing drift failure vanish un-re-evaluated
        v = self.verdicts
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
    """Write ``df`` as partition ``increment=inc`` of the store
    generation at ``path``. The partition is cleared first: it can only
    hold a crashed attempt's uncommitted files, and an empty ``df``
    writes no partition to replace them."""
    fsio.delete(os.path.join(path, f"increment={inc}"))
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
        df.withColumn("increment", F.lit(inc)), "append", partition_by="increment"
    ).parquet(path)


def _write_gen(
    st: _State, stores: "dict[str, str]", store: str, frame: DataFrame,
    n_files: int = 4, sort_key: "str | None" = None,
) -> str:
    """Write ``frame`` as the next generation of increment-partitioned
    ``store`` in ``n_files`` tasks (``compact_state``,
    ``expire_increments``), record it in ``stores`` and return its
    path. A retry lands on the same generation and overwrites it.

    ``sort_key``: stores written range-sorted (the key index) must stay
    prunable after a rewrite — rows are re-sorted by (increment,
    sort_key) inside each coalesced task so row-group min/max stats
    remain tight even when an increment collapses to a single file."""
    stores[store] = _next_gen(st, store)
    out = frame.coalesce(n_files)
    if sort_key:
        out = out.sortWithinPartitions("increment", sort_key)
    parquet_writer(out, partition_by="increment").parquet(st.path(stores[store]))
    return st.path(stores[store])


def _parquet_file_count(path: str, first_only: bool = False) -> int:
    """Count data files under a store, mirroring Spark's hidden-path
    filter (_temporary/ leftovers and dot/underscore-prefixed entries
    are NOT data — counting them would make a crashed store write
    raise UNABLE_TO_INFER_SCHEMA forever instead of recovering).
    ``first_only`` stops at 1 — the emptiness probe of ``_read_store``."""
    n, dirs = 0, [path]
    while dirs and not (first_only and n):
        d = dirs.pop()
        for e in fsio.ls(d):
            if e.name.startswith(("_", ".")):
                continue
            if e.is_dir:
                dirs.append(os.path.join(d, e.name))
            elif e.name.endswith(".parquet"):
                n += 1
    return n


def _read_store(
    spark: SparkSession, path: str, schema=None, through: "int | None" = None
) -> DataFrame | None:
    """Read a store generation, keeping only ``increment <= through``
    when given (the committed increments: a crashed attempt's partition
    lies above them). A missing dir (or one with no parquet files —
    partitionBy writes nothing for an empty frame, so a clean corpus
    legitimately produces a file-less violations store) falls back to
    an empty frame of ``schema`` (+ the increment partition column)
    when given, else None.

    Only the genuinely-empty case falls back: a store that HAS parquet
    files but fails to read (corrupt footer, IO error) propagates —
    treating it as 'never written' would silently skip merged checks
    (e.g. an unreadable key index would pass every cross-increment
    duplicate) and produce false-pass results."""
    if _parquet_file_count(path, first_only=True):
        df = spark.read.parquet(path)
        return df if through is None else df.filter(F.col("increment") <= through)
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
    st, full, all_files, delta_files = _open_increment(
        spark, state_dir, "manifest", documents_path,
        {"rule_version": (
            rule_version, "rule_version",
            "previously-validated increments were checked under "
            "different rules and cannot merge"),
         "modes": (
            modes, "profile/drift/uniqueness participation",
            "increments that skip a merged family drop out of the "
            "corpus-level result silently — keep the flags consistent "
            "for the state_dir's lifetime")},
        "if this was a row-preserving compaction, run "
        "rebase_after_compaction() first; otherwise start a fresh "
        "state_dir or run a full validation",
    )
    inc = st.increment + 1

    if not delta_files:
        # nothing new: return the stored merged state, zero scans of
        # the corpus
        if inc == 0:
            raise ValueError(
                f"no files under {documents_path} and no prior state "
                f"at {state_dir}"
            )
        gen = st.manifest["stores"].get("metrics")
        metrics = gen and _read_store(spark, st.path(gen))
        return _merged_result(spark, st, metrics, 0, 0)

    # basePath restores hive-partition columns (corpus at /data
    # partitioned by ds=…): reading leaf files alone disables partition
    # discovery, so every increment — bootstrap included — would
    # silently validate/profile WITHOUT the ds column while a full
    # run_validation over the same path sees it
    delta = spark.read.option("basePath", documents_path).parquet(*delta_files)
    schema_str = delta.schema.simpleString()
    stored_schema = st.manifest.get("schema")
    if stored_schema is not None and stored_schema != schema_str:
        raise ValueError(
            "schema drift between increments: stored "
            f"{stored_schema} vs delta {schema_str}; incremental "
            "state cannot merge across schemas — see "
            "drift.schema_drift, then re-bootstrap"
        )

    merges = _IncrementMerges(spark, st, inc, drift_group_by)
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
        frames = {"verdicts": res.verdicts, "violations": violations,
                  "lineage": res.lineage, "key_index": merges.loc}
        stores = {name: st.gen(name) for name in frames}
        # the key index is range-sorted on the key: the next
        # increment's index probe prunes to the delta's key range
        writes = [
            lambda name=name: _write_inc(
                frames[name], st.path(stores[name]), inc,
                sort_key="doc_id" if name == "key_index" else None)
            for name in frames
        ]
        if res.metrics is not None:
            # the merged metrics replace the previous increment's: a
            # new generation, committed with the rest
            stores["metrics"] = _next_gen(st, "metrics")
            writes.append(lambda: parquet_writer(res.metrics).parquet(
                st.path(stores["metrics"])))
        # the stores are independent: write them concurrently (Spark
        # job submission is thread-safe; same rationale as
        # sources.write_outputs_parallel)
        with ThreadPoolExecutor(max_workers=len(writes)) as wpool:
            for fut in [wpool.submit(w) for w in writes]:
                fut.result()
    finally:
        merges.release()

    st = _commit_increment(
        st, all_files, inc,
        {"schema": schema_str, "rule_version": rule_version, "modes": modes},
        merges.checksum, key_column, {**stores, **merges.stores},
    )
    # the key-location aggregate counts every delta row once
    return _merged_result(
        spark, st, res.metrics, len(delta_files), merges.checksum[0]
    )


def _merged_result(
    spark: SparkSession,
    st: _State,
    metrics: "DataFrame | None",
    n_delta_files: int,
    delta_rows: int,
) -> IncrementalResult:
    """The corpus-level result: every committed increment's verdicts,
    violations and lineage, with the merged ``metrics``."""
    return IncrementalResult(
        st.read(spark, "verdicts", R.VERDICT_SCHEMA),
        st.read(spark, "violations", R.VIOLATION_SCHEMA),
        metrics,
        st.read(spark, "lineage", LINEAGE_SCHEMA),
        st.increment, n_delta_files, delta_rows,
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
    st = _load_state(state_dir, "manifest")
    verdicts = st.read(spark, "verdicts") if st.version >= 0 else None
    if verdicts is None:
        raise ValueError(f"no incremental state at {state_dir}")
    aggs = [
        F.sum("row_count").alias("row_count"),
        F.sum("violation_count").alias("violation_count"),
        (F.sum((~F.col("pass")).cast("long")) == 0).alias("pass"),
    ]
    per = verdicts.groupBy("increment", "rule_id").agg(*aggs)
    rollup = verdicts.groupBy("increment").agg(*aggs).withColumn(
        "rule_id", F.lit("__all__"))
    return per.unionByName(rollup).orderBy("increment", "rule_id")


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
    are preserved exactly — only file counts change. Both protocols'
    stores in ``state_dir`` (validation and ``dedup.incremental_neardup``)
    are compacted.

    Crash safety: each rewritten store is written as a new generation
    directory, all of them are committed in one new manifest, and only
    then are the old generations deleted. A crash before the commit
    leaves the old state in force (the retry rewrites the same
    generation names); a crash after it leaves garbage the next commit
    deletes. Run between increments, not concurrently with one."""
    if files_per_increment < 1:
        raise ValueError("files_per_increment must be >= 1")
    states = [st for name in _PROTOCOL_STORES
              if (st := _load_state(state_dir, name)).version >= 0]
    if not states:
        raise ValueError(f"no incremental state at {state_dir}")
    report: dict[str, tuple[int, int]] = {}
    for st in states:
        stores = dict(st.manifest["stores"])
        for store, gen in st.manifest["stores"].items():
            if store == "metrics":  # one unpartitioned frame
                continue
            before = _parquet_file_count(st.path(gen))
            if before == 0:
                continue
            # the hive layout answers the idempotency check locally — no
            # Spark job for stores that are already compact (the common
            # repeated-call case)
            n_incs = sum(1 for e in fsio.ls(st.path(gen))
                         if e.name.startswith("increment="))
            if before <= n_incs * files_per_increment:
                report[store] = (before, before)
                continue
            # coalesce(k) + partitionBy: k tasks each write one file per
            # increment directory they hold rows for — ≤ k files/increment.
            # key_index keeps its range-sorted layout through the rewrite
            # (row-group-level pruning survives compaction)
            path = _write_gen(
                st, stores, store, st.read(spark, store), files_per_increment,
                sort_key="doc_id" if store == "key_index" else None,
            )
            report[store] = (before, _parquet_file_count(path))
        if stores != st.manifest["stores"]:
            _commit(st, {**st.manifest, "stores": stores})
    return report


def rebase_after_compaction(
    spark: SparkSession,
    documents_path: str,
    state_dir: str,
    verify: bool = True,
    manifest_name: str = "manifest.json",
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
    st = _load_state(state_dir, manifest_name.removesuffix(".json"))
    if st.version < 0:
        raise ValueError(f"no incremental state at {state_dir}")
    full = spark.read.parquet(documents_path)
    all_files = sorted(full.inputFiles())
    ck = st.manifest.get("checksum")
    if verify:
        if not ck:
            raise ValueError(
                "manifest has no checksum (state from an engine version "
                "before rebase support) — cannot verify; re-bootstrap "
                "or pass verify=False at your own risk"
            )
        rows, hsh, _lo, _hi = _key_summary(full, ck.get("key_column", "doc_id"))
        if rows != int(ck["rows"]) or hsh != int(ck["hash"]):
            raise ValueError(
                "compacted corpus does not match the validated state: "
                f"rows {rows} vs {ck['rows']}, key-hash {hsh} vs "
                f"{ck['hash']} — the rewrite changed the row multiset; "
                "re-bootstrap instead of rebasing"
            )
    _commit(st, {**st.manifest, "files": all_files})
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

    Crash safety: the rewritten stores are new generations committed
    together in one new manifest with the watermark, and the old
    generations are deleted only after that commit, as in
    ``compact_state``: a crash anywhere leaves either the old state or
    the new one. Archiving is at-least-once: a crash between the
    archive append and the commit re-archives the same rows on retry —
    dedupe downstream on (doc_id, rule_id, detail, increment) if the
    archive must be exactly-once.

    Returns ``{store: (rows_expired, rows_after)}`` plus
    ``expired_through`` (highest increment id ever expired for this
    state, -1 if none; also recorded in the manifest and preserved by
    later increments). ``rows_expired`` counts only rows from real
    expiring increments — a prior ``-1`` base is re-merged, not
    expired, so it is excluded."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    st = _load_state(state_dir, "manifest")
    if st.version < 0:
        raise ValueError(f"no incremental state at {state_dir}")
    latest = st.increment
    cutoff = latest - keep_last + 1
    # never regresses: keep_last growing between calls must not make
    # the recorded watermark move backwards
    through = max(cutoff - 1, int(st.manifest.get("expired_through", -1)))
    report: dict = {"expired_through": through}
    if cutoff <= 0:
        return report

    expired = F.col("increment") < cutoff  # includes a prior -1 base
    # a REAL increment partition (not the -1 base) inside the expiry
    # window: the report never counts base rows that are merely
    # re-merged
    newly_expired = expired & (F.col("increment") >= 0)
    stores = dict(st.manifest["stores"])
    total = lambda c: F.sum(c).alias(c)  # noqa: E731
    # expired verdicts and lineage roll into one base row per rule and
    # per (phase, op); expired violations are archived or dropped
    rollups = {
        "verdicts": lambda df: df.groupBy("rule_id").agg(
            total("row_count"), total("violation_count")
        ).withColumn("partition_id", F.lit(-1).cast("int")).withColumn(
            "pass", F.col("violation_count") == 0),
        "lineage": lambda df: df.groupBy("phase", "op").agg(
            F.max("rule_version").alias("rule_version"), F.max("ts").alias("ts"),
            total("duration_s"), total("row_count"), total("violation_count"),
        ).withColumn("partition_id", F.lit(-1).cast("int")).withColumn(
            "snapshot_id", F.lit(f"expired<={through}")),
        "violations": None,
    }
    for store, rollup in rollups.items():
        df = st.read(spark, store)
        n_exp = 0 if df is None else df.filter(newly_expired).count()
        if not n_exp:
            continue
        kept = df.filter(~expired)
        if rollup is not None:
            kept = kept.unionByName(rollup(df.filter(expired)).withColumn(
                "increment", F.lit(-1).cast("int")))
        elif archive_dir is not None:
            parquet_writer(df.filter(newly_expired), "append").parquet(
                archive_dir
            )
            report["archive_dir"] = archive_dir
        after = _read_store(spark, _write_gen(st, stores, store, kept))
        report[store] = (n_exp, 0 if after is None else after.count())

    _commit(st, {**st.manifest, "expired_through": through, "stores": stores})
    return report


class _IncrementMerges:
    """The state merges of one increment: the hooks
    validate._run_checks calls in place of its whole-input uniqueness
    check, drift sketch and profile finalize. ``loc`` is the delta's
    (doc_id, partition_id, cnt) key-location aggregate, which the
    caller appends to the key index and then frees with ``release``;
    ``checksum`` is its (rows, hash) share of the manifest checksum, and
    ``stores`` the generations of the stores the merges wrote."""

    def __init__(self, spark: SparkSession, st: _State, inc: int,
                 drift_group_by: "str | None"):
        self.spark, self.st, self.inc = spark, st, inc
        self.group_by = drift_group_by
        self.stores: "dict[str, str]" = {}
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
        idx = self.st.read(
            self.spark, "key_index",
            "doc_id string, partition_id int, cnt long, increment int",
        )
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
        if other in self.st.manifest["stores"]:
            raise ValueError(
                f"incremental drift: this state_dir holds the other drift "
                f"mode's per-increment sketches ('{other}'); with "
                f"drift_group_by={self.group_by!r} they cannot fold into "
                "this mode's corpus sketch — re-bootstrap with a fresh "
                "state_dir to switch drift modes"
            )
        store = self.st.path(self.st.gen(name))
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
            self.stores[name] = self.st.gen(name)
        hist = _read_store(self.spark, store, through=self.inc)
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
        store = self.st.path(self.st.gen("partials"))
        _write_inc(
            part.select(*[c for c in part.columns if not c.startswith("viol_")]),
            store, self.inc,
        )
        self.stores["partials"] = self.st.gen("partials")
        hist = _read_store(self.spark, store, through=self.inc)
        missing = [a for a, _, _, _ in plan.specs if a not in hist.columns]
        if missing:
            raise ValueError(
                f"stored partials at {store} lack aliases {missing[:5]} — "
                "partials from an incompatible engine version; re-bootstrap"
            )
        return finalize_partial_profile(hist, plan)
