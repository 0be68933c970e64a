"""Distribution drift: t-digest sketches + KS / PSI vs a baseline.

The reference profiles distributions (skew/kurtosis/normality,
data_analyzer.py:349-388) and compares before/after text quality
(text_processor.py:694-718) but has no drift check; north_star
requires "distribution-drift via KS/PSI on t-digest sketches against
a baseline snapshot".

Design: a from-scratch merging t-digest (Dunning & Ertl's public
algorithm — "Computing extremely accurate quantiles using
t-digests", arXiv:1902.04023). Per-partition partial sketches are
built with ``mapInPandas`` (Arrow batches, vectorized numpy — no
per-row Python), each partition emits ONE serialized digest row, and
the driver merges the tiny partials. Sketches are associative and
serializable, so they checkpoint alongside the phase outputs and
Structured Streaming reuses them unchanged (SURVEY.md §2.10).

One drift path: table-level drift is cohort drift with the single
group None. One sketch kernel (_sketch_partials), one collector
(sketch_columns), one comparison (drift_report_sketches) and one
config guard (resolve_drift_config) serve run_validation,
incremental.validate_incremental and streaming.drift_stream; a caller
keeps only its own baseline, state and output I/O.
"""


from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import local_frame
from .sources import parquet_writer


# --- t-digest ---------------------------------------------------------------

@dataclass
class TDigest:
    """Merging t-digest with the k1 scale function."""

    compression: float = 200.0
    means: np.ndarray = field(default_factory=lambda: np.array([], dtype=np.float64))
    weights: np.ndarray = field(default_factory=lambda: np.array([], dtype=np.float64))
    min_val: float = math.inf
    max_val: float = -math.inf

    # -- construction --------------------------------------------------------
    @classmethod
    def from_values(cls, values: np.ndarray, compression: float = 200.0) -> "TDigest":
        d = cls(compression=compression)
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return d
        d.min_val = float(v.min())
        d.max_val = float(v.max())
        v.sort()
        d.means = v
        d.weights = np.ones_like(v)
        d._compress()
        return d

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum()) if self.weights.size else 0.0

    def _k(self, q: float) -> float:
        # k1 scale function: delta/(2*pi) * asin(2q - 1)
        return self.compression / (2 * math.pi) * math.asin(2 * q - 1)

    def _compress(self) -> None:
        if self.means.size == 0:
            return
        order = np.argsort(self.means, kind="mergesort")
        means, weights = self.means[order], self.weights[order]
        total = weights.sum()
        new_means: list[float] = []
        new_weights: list[float] = []
        cur_mean, cur_w = means[0], weights[0]
        w_so_far = 0.0
        k_lower = self._k(0.0 + 1e-15)
        for m, w in zip(means[1:], weights[1:]):
            q_up = (w_so_far + cur_w + w) / total
            if q_up <= 1.0 and self._k(min(q_up, 1 - 1e-15)) - k_lower <= 1.0:
                cur_mean = (cur_mean * cur_w + m * w) / (cur_w + w)
                cur_w += w
            else:
                new_means.append(cur_mean)
                new_weights.append(cur_w)
                w_so_far += cur_w
                k_lower = self._k(min(max(w_so_far / total, 1e-15), 1 - 1e-15))
                cur_mean, cur_w = m, w
        new_means.append(cur_mean)
        new_weights.append(cur_w)
        self.means = np.array(new_means)
        self.weights = np.array(new_weights)

    # -- algebra --------------------------------------------------------------
    def merge(self, other: "TDigest") -> "TDigest":
        out = TDigest(compression=self.compression)
        out.means = np.concatenate([self.means, other.means])
        out.weights = np.concatenate([self.weights, other.weights])
        out.min_val = min(self.min_val, other.min_val)
        out.max_val = max(self.max_val, other.max_val)
        out._compress()
        return out

    @classmethod
    def merge_all(cls, digests: Iterable["TDigest"], compression: float = 200.0) -> "TDigest":
        out = cls(compression=compression)
        ms, ws = [out.means], [out.weights]
        for d in digests:
            ms.append(d.means)
            ws.append(d.weights)
            out.min_val = min(out.min_val, d.min_val)
            out.max_val = max(out.max_val, d.max_val)
        out.means = np.concatenate(ms)
        out.weights = np.concatenate(ws)
        out._compress()
        return out

    # -- queries ---------------------------------------------------------------
    def cdf(self, x: float) -> float:
        if self.means.size == 0:
            return float("nan")
        if x >= self.max_val:
            return 1.0  # checked first so a constant column (min==max) -> 1
        if x <= self.min_val:
            return 0.0
        total = self.total_weight
        cum = np.cumsum(self.weights) - self.weights / 2.0
        # clip: np.interp can overflow when adjacent centroid means
        # differ by a subnormal gap (slope ~ 1e308)
        return float(np.clip(np.interp(x, self.means, cum / total), 0.0, 1.0))

    def quantile(self, q: float) -> float:
        if self.means.size == 0:
            return float("nan")
        total = self.total_weight
        cum = (np.cumsum(self.weights) - self.weights / 2.0) / total
        v = np.interp(q, cum, self.means, left=self.min_val, right=self.max_val)
        return float(np.clip(v, self.min_val, self.max_val))

    # -- serialization -----------------------------------------------------------
    def serialize(self) -> str:
        return json.dumps(
            {
                "c": self.compression,
                "m": self.means.tolist(),
                "w": self.weights.tolist(),
                "lo": self.min_val if math.isfinite(self.min_val) else None,
                "hi": self.max_val if math.isfinite(self.max_val) else None,
            }
        )

    @classmethod
    def deserialize(cls, s: str) -> "TDigest":
        o = json.loads(s)
        d = cls(compression=o["c"])
        d.means = np.array(o["m"], dtype=np.float64)
        d.weights = np.array(o["w"], dtype=np.float64)
        d.min_val = o["lo"] if o["lo"] is not None else math.inf
        d.max_val = o["hi"] if o["hi"] is not None else -math.inf
        return d


# --- distributed sketching ---------------------------------------------------

_SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("group", T.StringType(), True),
        T.StructField("column", T.StringType(), False),
        T.StructField("sketch", T.StringType(), False),
    ]
)


def _level1_partitions(level1: DataFrame) -> float:
    """Partition count of a level-1 sketch plan, read without running a
    job: a plan with no exchange or subquery (scan -> project ->
    mapInPandas, the shape drift inputs have) builds its RDD lazily.
    Otherwise the count is unknown before execution — AQE may resize
    a shuffle at run time, and planning a broadcast or subquery runs
    its job — so report infinity and keep level 2."""
    plan = level1._jdf.queryExecution().executedPlan()
    text = plan.toString()
    if any(n in text for n in ("AdaptiveSparkPlan", "Exchange", "Subquery")):
        return math.inf
    return plan.execute().getNumPartitions()


def _sketch_partials(
    df: DataFrame,
    columns: list[str],
    compression: float = 200.0,
    combine_buckets: int = 64,
    group_col: "str | None" = None,
) -> DataFrame:
    """Distributed sketch plan ending in ≤ ``combine_buckets`` rows per
    (group, column) — the frame sketch_columns collects. Without
    ``group_col`` every row is in the one group NULL (table level).

    Two-level merge (round-3 VERDICT hygiene #2): level 1 folds each
    partition's Arrow batches into one digest row per (group, column)
    (mapInPandas); level 2 groups those rows by
    (group, column, partition_id mod k) and merges each bucket
    cluster-side (applyInPandas), so the driver receives at most k rows
    per (group, column) instead of one per partition — at the module's
    own 8M-partition scale citation the former collect() was 8M ×
    columns JSON rows. The combine shuffle moves only the
    already-aggregated partial rows (O(partitions × groups ×
    compression) bytes), never raw values.

    Level 2 runs only when it can merge anything: with at most k
    level-1 partitions every bucket holds ONE digest, and merging one
    compressed digest is an identity (``_compress`` is idempotent), so
    the plan ends at level 1 and the driver merges those rows in
    partition-id order — the same digests bit for bit, without the
    shuffle and the second Python crossing. See _level1_partitions for
    when the count is known.

    Without a group the UDF receives exactly the sketched columns and
    runs no per-batch groupby; every partition emits a row per column.
    With one, a group present in a partition always emits a row for
    every column, even when all its values are null (weight-0 digest):
    'group present, values vanished' must stay distinguishable from
    'group missing'."""

    def build(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        partials: dict[tuple, TDigest] = (
            {} if group_col is not None
            else {(None, c): TDigest(compression=compression) for c in columns}
        )
        for batch in iterator:
            groups = (
                ((None, batch),) if group_col is None
                else batch.groupby(batch[group_col], sort=False)
            )
            for g, sub in groups:
                for c in columns:
                    vals = pd.to_numeric(sub[c], errors="coerce").to_numpy(
                        dtype=np.float64
                    )
                    d = TDigest.from_values(vals, compression)
                    prev = partials.get((g, c))
                    if prev is None:
                        partials[(g, c)] = d
                    elif d.total_weight:
                        partials[(g, c)] = prev.merge(d)
        yield pd.DataFrame(
            {
                "group": [k[0] for k in partials],
                "column": [k[1] for k in partials],
                "sketch": [d.serialize() for d in partials.values()],
            }
        )

    def merge_bucket(key, pdf):
        d = TDigest.merge_all(
            (TDigest.deserialize(s) for s in pdf["sketch"]), compression
        )
        return pd.DataFrame(
            {"group": [key[0]], "column": [key[1]], "sketch": [d.serialize()]}
        )

    # group keys are canonicalized SPARK-side (string cast, NULL ->
    # 'null') before the UDF: stringifying per batch in pandas made keys
    # dtype-dependent — a numeric cohort column arrives as float64 in
    # batches containing a NULL ('1.0') but int64 in null-free batches
    # ('1'), splitting ONE cohort into two keys; and astype(str) turned
    # NULL into 'None', never the documented 'null'
    keys = [] if group_col is None else [
        F.coalesce(F.col(group_col).cast("string"), F.lit("null")).alias(
            group_col
        )
    ]
    level1 = df.select(*keys, *columns).mapInPandas(build, _SKETCH_SCHEMA)
    if _level1_partitions(level1) <= combine_buckets:
        return level1
    return (
        level1.withColumn(
            "_b", F.pmod(F.spark_partition_id(), F.lit(int(combine_buckets)))
        )
        .groupBy("group", "column", "_b")
        .applyInPandas(merge_bucket, _SKETCH_SCHEMA)
    )


def sketch_columns(
    df: DataFrame,
    columns: list[str],
    compression: float = 200.0,
    combine_buckets: int = 64,
    group_by: "str | None" = None,
) -> dict:
    """One t-digest per numeric column via the two-level partial merge
    (see _sketch_partials); the driver merges ≤ combine_buckets rows
    per (group, column). Network cost is O(partitions * compression) —
    independent of table size.

    Returns {column: TDigest}, or with ``group_by`` {group: {column:
    TDigest}} — the shapes save_baseline / save_grouped_baseline
    persist. Cohorts are meant for monitoring dimensions (languages,
    sources, shards): the group count is assumed bounded, not
    key-like."""
    rows = _sketch_partials(
        df, columns, compression, combine_buckets, group_by
    ).collect()
    # every requested column gets a table-level digest: a zero-partition
    # input yields no partial rows, and its columns must still sketch
    # as empty (drift_report then says empty_sketch) rather than vanish
    merged: dict = (
        {} if group_by is not None else {None: {c: [] for c in columns}}
    )
    for r in rows:
        merged.setdefault(r["group"], {}).setdefault(r["column"], []).append(
            TDigest.deserialize(r["sketch"])
        )
    out = {
        g: {c: TDigest.merge_all(ds, compression) for c, ds in cols.items()}
        for g, cols in merged.items()
    }
    return out if group_by is not None else out[None]


def save_grouped_baseline(
    sketches: "dict[str, dict[str, TDigest]]",
    spark,
    path: str,
    snapshot_id: str = "snap-0",
) -> None:
    """Persist a per-group baseline (sketch_columns(group_by=) output) as
    (snapshot_id, group, column, sketch) parquet. load_baseline on a
    grouped file raises — the formats are deliberately distinct."""
    rows = [
        (snapshot_id, g, c, d.serialize())
        for g, cols in sketches.items()
        for c, d in cols.items()
    ]
    parquet_writer(local_frame(
        spark, rows,
        "snapshot_id string, group string, column string, sketch string",
    ).coalesce(1)).parquet(path)


def load_grouped_baseline(
    spark, path: str
) -> "dict[str, dict[str, TDigest]]":
    """Load a save_grouped_baseline file -> {group: {column: TDigest}}.

    Raises with the remedy named when handed a FLAT save_baseline file
    (the symmetric guard to load_baseline's grouped-file check): a
    cohort-drift caller pointing at an ungrouped snapshot would
    otherwise die on an opaque Row['group'] error inside the job."""
    df = spark.read.parquet(path)
    if "group" not in df.columns:
        raise ValueError(
            f"{path} is a flat save_baseline snapshot (columns "
            f"{df.columns}); cohort drift (group_by=/drift_group_by=) "
            "needs a save_grouped_baseline file"
        )
    out: dict[str, dict[str, TDigest]] = {}
    for r in df.collect():
        out.setdefault(r["group"], {})[r["column"]] = TDigest.deserialize(
            r["sketch"]
        )
    return out


# --- drift statistics ---------------------------------------------------------

def ks_statistic(current: TDigest, baseline: TDigest, grid_size: int = 200) -> float:
    """KS = max |CDF_cur(x) - CDF_base(x)| over the merged centroid grid."""
    grid = np.unique(np.concatenate([current.means, baseline.means]))
    if grid.size > grid_size:
        idx = np.linspace(0, grid.size - 1, grid_size).astype(int)
        grid = grid[idx]
    return float(
        max(abs(current.cdf(float(x)) - baseline.cdf(float(x))) for x in grid)
        if grid.size
        else float("nan")
    )


def psi(current: TDigest, baseline: TDigest, bins: int = 10, eps: float = 1e-6) -> float:
    """Population Stability Index over baseline decile bins:
    sum (p_i - q_i) * ln(p_i / q_i)."""
    edges = [baseline.quantile(i / bins) for i in range(1, bins)]
    edges = [-math.inf] + edges + [math.inf]
    total = 0.0
    for lo, hi in zip(edges[:-1], edges[1:]):
        q = _bin_mass(baseline, lo, hi)
        p = _bin_mass(current, lo, hi)
        p, q = max(p, eps), max(q, eps)
        total += (p - q) * math.log(p / q)
    return total


def _bin_mass(d: TDigest, lo: float, hi: float) -> float:
    c_hi = 1.0 if hi == math.inf else d.cdf(hi)
    c_lo = 0.0 if lo == -math.inf else d.cdf(lo)
    return max(c_hi - c_lo, 0.0)


def drift_report(
    current_df: DataFrame,
    baseline_sketches: dict[str, TDigest],
    columns: list[str] | None = None,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> list[dict]:
    """Sketch current snapshot, compare column-by-column vs baseline."""
    columns = columns or list(baseline_sketches)
    cur = sketch_columns(current_df, columns)
    return drift_report_sketches(
        cur, baseline_sketches, columns, ks_threshold, psi_threshold
    )


def as_cohorts(sketches: dict) -> "dict[str | None, dict[str, TDigest]]":
    """A sketch dict in the cohort shape {group: {column: TDigest}}; a
    table-level {column: TDigest} dict is the single group None."""
    if any(isinstance(v, TDigest) for v in sketches.values()):
        return {None: sketches}
    return sketches


def drift_report_sketches(
    cur: dict,
    baseline_sketches: dict,
    columns: "list[str] | None" = None,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> list[dict]:
    """Core of drift_report over ALREADY-BUILT sketches — the entry
    point for callers that merge digests themselves (incremental mode
    merges per-increment digests; t-digest merge is associative, so
    the corpus digest never requires re-reading old increments).

    Both sides are {column: TDigest} or {group: {column: TDigest}} (see
    as_cohorts); one row per (group, column), ``group`` None at table
    level. Degenerate contract (round-4 review): a group present on
    exactly one side fires drifted=true for every column (reason
    missing_in_current/baseline — a vanished cohort IS drift), a
    (group, column) sketch present on exactly one side fires the same
    reasons per pair, and an empty-on-exactly-one-side sketch fires
    reason=empty_sketch rather than comparing NaN against
    thresholds."""
    cur, base = as_cohorts(cur), as_cohorts(baseline_sketches)
    nan = float("nan")
    out = []
    for g in sorted(set(cur) | set(base)):
        c_cols, b_cols = cur.get(g), base.get(g)
        if c_cols is None or b_cols is None:
            # membership test, not falsy-or: a group present with an
            # EMPTY column dict must still fire, and when explicit
            # columns are asked for, every one is unmonitorable for
            # this group — emit them all rather than only those the
            # present side happens to carry. With no column info at
            # all, a single sentinel row keeps the cohort from
            # vanishing silently.
            present = b_cols if c_cols is None else c_cols
            cols = columns or sorted(present) or ["__any__"]
        else:
            cols = columns or sorted(set(c_cols) & set(b_cols))
        for c in cols:
            d_cur = None if c_cols is None else c_cols.get(c)
            d_base = None if b_cols is None else b_cols.get(c)
            if d_cur is None or d_base is None:
                # a (group, column) hole on exactly one side is
                # unmonitorable and must surface as drift, not silence
                stats = (nan, nan, True, (
                    "missing_in_current"
                    if d_cur is None and b_cols is not None
                    else "missing_in_baseline"
                ))
            elif (d_cur.total_weight == 0) != (d_base.total_weight == 0):
                # one side has data, the other none: KS/PSI evaluate to
                # NaN, and 'NaN > threshold' is False — an ALL-NULL
                # batch would otherwise report drifted=false on the most
                # severe possible change (round-4 review finding). Total
                # data loss/appearance IS drift.
                stats = (nan, nan, True, "empty_sketch")
            elif d_cur.total_weight == 0:
                stats = (0.0, 0.0, False, "both_empty")
            else:
                k, p = ks_statistic(d_cur, d_base), psi(d_cur, d_base)
                stats = (
                    k, p, bool(k > ks_threshold or p > psi_threshold),
                    "stats",
                )
            out.append({
                "group": g, "column": c,
                **dict(zip(("ks", "psi", "drifted", "reason"), stats)),
                "n_current": 0 if d_cur is None else int(d_cur.total_weight),
            })
    return out


def resolve_drift_config(
    spark,
    baseline,
    target: DataFrame,
    columns: "list[str] | None" = None,
    group_by: "str | None" = None,
) -> "tuple[dict, list[str]]":
    """(baseline, columns to sketch) for one drift check — the guard
    run_validation, validate_incremental and streaming.drift_stream
    share. A path baseline loads by mode (load_grouped_baseline with
    ``group_by``, else load_baseline; each refuses the other's file),
    and a dict baseline must have the mode's shape. The group column
    must be in the signal frame ``target``. The columns are the
    explicit ones, else the baseline columns ``target`` has.

    A misconfigured check (disjoint baseline, or explicit columns
    naming columns the baseline/target lack) would otherwise emit ZERO
    verdicts for those columns — indistinguishable from a passing
    check — so it raises."""
    grouped = group_by is not None
    if isinstance(baseline, str):
        baseline = (load_grouped_baseline if grouped else load_baseline)(
            spark, baseline
        )
    elif baseline and grouped != all(
        isinstance(v, dict) for v in baseline.values()
    ):
        # the fail-fast remedy a path gets from the loaders: a flat
        # dict in cohort mode would die on an opaque "'TDigest' is not
        # iterable", a grouped one at table level would read cohort
        # names as column names
        raise ValueError(
            "drift: the baseline is a FLAT {column: sketch} dict but a "
            "group-by column is set — cohort drift needs a grouped "
            "{group: {column: sketch}} baseline (sketch_columns("
            "group_by=...) / save_grouped_baseline output)"
            if grouped else
            "drift: the baseline is a GROUPED {group: {column: sketch}} "
            "dict (save_grouped_baseline shape) but no group-by column "
            "is set — pass drift_group_by / group_by, or a flat "
            "{column: sketch} baseline"
        )
    if grouped and group_by not in target.columns:
        raise ValueError(
            f"drift: group-by column '{group_by}' is not in the signal "
            f"frame columns {sorted(target.columns)} — pass "
            "drift_signals that keeps it (e.g. "
            "document_signals(keep=[...]))"
        )
    base_cols = {c for cols in as_cohorts(baseline).values() for c in cols}
    cols = columns or sorted(base_cols & set(target.columns))
    bad = [c for c in cols if c not in base_cols or c not in target.columns]
    if not cols or bad:
        raise ValueError(
            f"drift: columns {bad or sorted(target.columns)} do not "
            f"intersect baseline columns {sorted(base_cols)} and target "
            f"columns {sorted(target.columns)}; misconfigured baseline, "
            "drift columns, or drift_signals"
        )
    return baseline, cols


def save_baseline(
    sketches: "dict[str, TDigest]", spark, path: str, snapshot_id: str = "snap-0"
) -> None:
    """Persist a baseline sketch snapshot (north_star: drift "against a
    baseline snapshot") as a tiny parquet of (snapshot_id, column,
    serialized sketch) — lands on any Hadoop-compatible filesystem, and
    a later run loads + merges-free compares without rescanning the
    baseline data."""
    rows = [(snapshot_id, c, d.serialize()) for c, d in sketches.items()]
    parquet_writer(local_frame(
        spark, rows, "snapshot_id string, column string, sketch string"
    ).coalesce(1)).parquet(path)


def load_baseline(spark, path: str) -> "dict[str, TDigest]":
    """Load a baseline saved by save_baseline -> {column: TDigest}."""
    df = spark.read.parquet(path)
    if "group" in df.columns:
        raise ValueError(
            f"{path} is a GROUPED baseline (save_grouped_baseline); "
            "load it with load_grouped_baseline / pass drift_group_by "
            "— silently flattening per-group sketches would merge "
            "cohorts into a table-level digest and mask cohort drift"
        )
    return {
        r["column"]: TDigest.deserialize(r["sketch"]) for r in df.collect()
    }


def schema_snapshot(df: DataFrame) -> "dict[str, str]":
    """{column: simple type string} — the schema side of a baseline
    snapshot (store it next to the sketch parquet)."""
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def schema_drift(
    current_df: DataFrame, baseline: "dict[str, str]"
) -> "list[dict]":
    """Structural drift vs a baseline schema snapshot: added / removed
    / type-changed columns. Purely metadata — no job runs. Complements
    the distributional KS/PSI checks (a column that silently changed
    from int to string won't show in value sketches that no longer
    build)."""
    cur = schema_snapshot(current_df)
    out = []
    for c in sorted(set(baseline) - set(cur)):
        out.append({"column": c, "kind": "removed", "baseline": baseline[c], "current": None})
    for c in sorted(set(cur) - set(baseline)):
        out.append({"column": c, "kind": "added", "baseline": None, "current": cur[c]})
    for c in sorted(set(cur) & set(baseline)):
        if cur[c] != baseline[c]:
            out.append(
                {"column": c, "kind": "type_changed",
                 "baseline": baseline[c], "current": cur[c]}
            )
    return out


def document_signals(
    df: DataFrame, spans_col: str = "spans", keep: "list[str] | None" = None
) -> DataFrame:
    """Numeric drift signals for the interleaved documents shape —
    the flagship table has NO plain numeric columns, so distribution
    drift monitors these derived per-doc quantities instead:
    ``n_spans``, ``text_chars`` (total span-text length),
    ``n_media_refs``. Lambda-free expressions (array_join / nested
    field access / array_compact) so the pass stays in codegen; feed
    the result to sketch_columns/save_baseline and pass it as
    run_validation's ``drift_signals``.

    NULL ``spans`` rows count as 0 for every signal: with non-ANSI
    Spark ``size(NULL)`` is -1, which would silently drag the sketched
    distribution left, so sizes are guarded with an isNull branch.

    ``keep``: pass through extra columns unchanged (e.g. a cohort
    column for run_validation's ``drift_group_by``).
    """
    s = F.col(spans_col)
    null_zero = F.when(s.isNull(), F.lit(0.0))
    return df.select(
        *[F.col(c) for c in (keep or [])],
        null_zero.otherwise(F.size(s).cast("double")).alias("n_spans"),
        F.length(
            F.coalesce(F.array_join(s.getField("text"), ""), F.lit(""))
        ).cast("double").alias("text_chars"),
        null_zero.otherwise(
            F.size(F.array_compact(s.getField("media_ref"))).cast("double")
        ).alias("n_media_refs"),
    )


def drift_report_rows(
    report: "list[dict]", inc: "int | None" = None
) -> "tuple[list, list]":
    """(verdict_rows, violation_rows) in rules.VERDICT_SCHEMA /
    VIOLATION_SCHEMA shape from a drift_report_sketches result — the
    ONE encoding of drift rule ids (``drift_<col>`` at table level,
    ``drift_<col>[<group>]`` per cohort), verdict tuples (partition_id
    -1), and violation detail strings, shared by the batch validate
    phase and incremental drift (it used to exist as four hand-kept
    copies). ``inc`` appends the increment-id suffix the incremental
    path records."""
    v_rows, viol_rows = [], []
    for r in report:
        g = r["group"]
        key = r["column"] if g is None else f"{r['column']}[{g}]"
        rid = f"drift_{key}"
        v_rows.append(
            (-1, rid, int(r.get("n_current") or 0),
             1 if r["drifted"] else 0, not r["drifted"])
        )
        if r["drifted"]:
            detail = (
                ("" if g is None else f"group={g};")
                + f"ks={r['ks']:.6f};psi={r['psi']:.6f}"
                + f";reason={r['reason']}"
            )
            if inc is not None:
                detail += f";inc={inc}"
            viol_rows.append((key, rid, -1, detail))
    return v_rows, viol_rows
