"""Distribution drift: quantile-grid sketches + KS / PSI vs a baseline.

The reference profiles distributions (skew/kurtosis/normality,
data_analyzer.py:349-388) and compares before/after text quality
(text_processor.py:694-718) but has no drift check; north_star
requires "distribution-drift via KS/PSI on t-digest sketches against
a baseline snapshot".

Design: the mergeable quantile sketch that north_star calls a
"t-digest" is a deterministic quantile grid — a column's values at 201
evenly spaced levels plus its non-null count — built by ONE Spark
aggregate of ``percentile_approx`` (the profile's quantile machinery,
accuracy ``config.PERCENTILE_ACCURACY``). It runs in the JVM, so drift
starts no Python worker and ships no rows across an Arrow boundary,
and a repeated sketch of the same data is bit-identical. Spark's own
KLL sketch aggregates were the other JVM candidate; they are not
deterministic (repeated sketches of one parquet file differ). Against
exact two-sample KS on the documents signals a grid is within ~0.005
(the level step). Grids serialize to JSON, so baselines and per-increment
history persist as tiny parquet files, and grids merge order-insensitively
(QuantileGrid.merge). Sketches written as t-digest JSON still load, via
a read-only converter.

One drift path: table-level drift is cohort drift with the single
group None. One sketch aggregate (_sketch_frame), one collector
(sketch_columns), one comparison (drift_report_sketches) and one
config guard (resolve_drift_config) serve run_validation,
incremental.validate_incremental and streaming.drift_stream; a caller
keeps only its own baseline, state and output I/O.
"""


from __future__ import annotations

import json
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .profile import _DRIFT_QUANTILE_GRID, quantile_grid
from .session import local_frame
from .sources import parquet_writer


# --- quantile-grid sketch ---------------------------------------------------

class QuantileGrid:
    """A column's values at evenly spaced quantile levels 0, 1/(G-1),
    ..., 1 (``q``; level 0 is the minimum, level 1 the maximum) plus
    its non-null count ``total_weight``. A weight-0 grid is an empty
    sketch."""

    def __init__(self, q=None, n: float = 0.0) -> None:
        self.q = np.array([] if q is None or not n else q, dtype=np.float64)
        self.total_weight = float(n) if self.q.size else 0.0
        self.levels = np.linspace(0.0, 1.0, self.q.size)

    def cdf(self, x: float) -> float:
        """Share of values ≤ x, linear between grid points; a run of
        equal grid values (a point mass) counts at its top level."""
        if not self.total_weight:
            return float("nan")
        q, lv = self.q, self.levels
        i = int(np.searchsorted(q, x, side="right"))
        if i in (0, q.size):
            return float(i > 0)
        frac = (x - q[i - 1]) / (q[i] - q[i - 1])  # in [0, 1): no overflow
        return float(lv[i - 1] + (lv[i] - lv[i - 1]) * frac)

    def quantile(self, level: float) -> float:
        if not self.total_weight:
            return float("nan")
        return float(np.interp(level, self.levels, self.q))

    @classmethod
    def merge(cls, grids: "list[QuantileGrid]") -> "QuantileGrid":
        """One order-insensitive merge: every grid point stands for its
        grid's count, and the merged grid is the exact weighted
        percentile of the pooled points at the grid levels — the
        semantics of Spark's ``percentile(v, levels, freq)`` that
        profile.finalize_partial_profile runs over fused grids."""
        grids = [g for g in grids if g.total_weight]
        if not grids:
            return cls()
        v = np.concatenate([g.q for g in grids])
        w = np.concatenate([np.full(g.q.size, g.total_weight) for g in grids])
        order = np.argsort(v, kind="stable")
        v, cum = v[order], np.cumsum(w[order])
        pos = np.linspace(0.0, 1.0, _DRIFT_QUANTILE_GRID) * (cum[-1] - 1)
        lo, hi = np.floor(pos), np.ceil(pos)
        v_lo = v[np.searchsorted(cum, lo + 1)]
        v_hi = v[np.searchsorted(cum, hi + 1)]
        q = np.where(v_lo == v_hi, v_lo, (hi - pos) * v_lo + (pos - lo) * v_hi)
        return cls(q, sum(g.total_weight for g in grids))

    def serialize(self) -> str:
        return json.dumps({"n": self.total_weight, "q": self.q.tolist()})

    @classmethod
    def deserialize(cls, s: str) -> "QuantileGrid":
        """A serialized grid, or a sketch written as t-digest JSON
        ({"c","m","w","lo","hi"}; read-only): its centroids evaluated at
        the grid levels the way the t-digest answered quantile queries
        (interpolation over centroid mid-ranks, clipped to min/max)."""
        o = json.loads(s)
        if "m" not in o:
            return cls(o["q"], o["n"])
        m, w = np.array(o["m"], dtype=np.float64), np.array(o["w"], dtype=np.float64)
        if not w.size:
            return cls()
        mid = (np.cumsum(w) - w / 2.0) / w.sum()
        lv = np.linspace(0.0, 1.0, _DRIFT_QUANTILE_GRID)
        q = np.interp(lv, mid, m, left=o["lo"], right=o["hi"])
        return cls(np.clip(q, o["lo"], o["hi"]), w.sum())


def sketch_rows(sketches: dict) -> "list[tuple]":
    """(group, column, serialized grid) per sketch of a flat or cohort
    dict (see as_cohorts) — the one persisted form of baselines and of
    incremental per-increment history."""
    return [
        (g, c, d.serialize())
        for g, cols in as_cohorts(sketches).items()
        for c, d in cols.items()
    ]


def merge_sketch_rows(rows) -> dict:
    """{group: {column: QuantileGrid}} from stored (group, column,
    serialized) rows: one QuantileGrid.merge per (group, column) over
    every row, so the result does not depend on row order. Rows written
    as t-digest JSON load through the converter."""
    pooled: dict = {}
    for g, c, s in rows:
        pooled.setdefault(g, {}).setdefault(c, []).append(
            QuantileGrid.deserialize(s)
        )
    return {
        g: {c: QuantileGrid.merge(gs) for c, gs in cols.items()}
        for g, cols in pooled.items()
    }


# --- sketching ---------------------------------------------------------------

def _sketch_frame(
    df: DataFrame, columns: list[str], group_by: "str | None" = None
) -> DataFrame:
    """One Spark aggregate: per column, the non-null count and the
    ``percentile_approx`` grid, grouped by the cohort key when there is
    one (one row per cohort; one row at table level, also on an empty
    input). Values are ``try_cast`` to double and NaN is nulled, so
    non-numeric strings and NaN count as null.

    Cohort keys are canonicalized Spark-side (string cast, NULL ->
    'null'), so a numeric cohort column gives one key per value."""
    keys = [] if group_by is None else [
        F.coalesce(F.col(group_by).cast("string"), F.lit("null")).alias("group")
    ]
    aggs = []
    for i, c in enumerate(columns):
        d = F.nanvl(F.col(c).try_cast("double"), F.lit(None).cast("double"))
        aggs += [
            F.count(d).alias(f"n{i}"),
            quantile_grid(d, _DRIFT_QUANTILE_GRID).alias(f"q{i}"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def sketch_columns(
    df: DataFrame, columns: list[str], group_by: "str | None" = None
) -> dict:
    """One quantile grid per column (see _sketch_frame) — one job, no
    Python worker, one collected row per cohort.

    Returns {column: QuantileGrid}, or with ``group_by`` {group:
    {column: QuantileGrid}} — the shapes save_baseline /
    save_grouped_baseline persist. A present cohort whose column is all
    null gets a weight-0 grid, so 'group present, values vanished'
    stays distinguishable from 'group missing'. Cohorts are meant for
    monitoring dimensions (languages, sources, shards): the group count
    is assumed bounded, not key-like."""
    out = {
        r["group"] if group_by is not None else None: {
            c: QuantileGrid(r[f"q{i}"], r[f"n{i}"]) for i, c in enumerate(columns)
        }
        for r in _sketch_frame(df, columns, group_by).collect()
    }
    return out if group_by is not None else out[None]


def save_grouped_baseline(
    sketches: "dict[str, dict[str, QuantileGrid]]",
    spark,
    path: str,
    snapshot_id: str = "snap-0",
) -> None:
    """Persist a per-group baseline (sketch_columns(group_by=) output) as
    (snapshot_id, group, column, sketch) parquet. load_baseline on a
    grouped file raises — the formats are deliberately distinct."""
    rows = [(snapshot_id, *r) for r in sketch_rows(sketches)]
    parquet_writer(local_frame(
        spark, rows,
        "snapshot_id string, group string, column string, sketch string",
    ).coalesce(1)).parquet(path)


def load_grouped_baseline(
    spark, path: str
) -> "dict[str, dict[str, QuantileGrid]]":
    """Load a save_grouped_baseline file -> {group: {column: QuantileGrid}}.

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
    out: dict[str, dict[str, QuantileGrid]] = {}
    for r in df.collect():
        out.setdefault(r["group"], {})[r["column"]] = QuantileGrid.deserialize(
            r["sketch"]
        )
    return out


# --- drift statistics ---------------------------------------------------------

def ks_statistic(current: QuantileGrid, baseline: QuantileGrid) -> float:
    """KS = max |CDF_cur(x) - CDF_base(x)| over both grids' points."""
    grid = np.unique(np.concatenate([current.q, baseline.q]))
    if not grid.size:
        return float("nan")
    return max(abs(current.cdf(x) - baseline.cdf(x)) for x in grid)


def psi(
    current: QuantileGrid, baseline: QuantileGrid, bins: int = 10, eps: float = 1e-6
) -> float:
    """Population Stability Index over baseline decile bins:
    sum (p_i - q_i) * ln(p_i / q_i)."""
    edges = [baseline.quantile(i / bins) for i in range(1, bins)]
    edges = [-math.inf] + edges + [math.inf]
    total = 0.0
    for lo, hi in zip(edges[:-1], edges[1:]):
        p, q = (max(d.cdf(hi) - d.cdf(lo), eps) for d in (current, baseline))
        total += (p - q) * math.log(p / q)
    return total


def drift_report(
    current_df: DataFrame,
    baseline_sketches: dict[str, QuantileGrid],
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


def as_cohorts(sketches: dict) -> "dict[str | None, dict[str, QuantileGrid]]":
    """A sketch dict in the cohort shape {group: {column: QuantileGrid}}; a
    table-level {column: QuantileGrid} dict is the single group None."""
    if any(isinstance(v, QuantileGrid) for v in sketches.values()):
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
    point for callers that merge sketches themselves (incremental mode
    merges per-increment grids with QuantileGrid.merge, so the corpus
    sketch never requires re-reading old increments).

    Both sides are {column: QuantileGrid} or {group: {column: QuantileGrid}} (see
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
        # dict in cohort mode would die on an opaque "'QuantileGrid' is
        # not iterable", a grouped one at table level would read cohort
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
    sketches: "dict[str, QuantileGrid]", spark, path: str, snapshot_id: str = "snap-0"
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


def load_baseline(spark, path: str) -> "dict[str, QuantileGrid]":
    """Load a baseline saved by save_baseline -> {column: QuantileGrid}."""
    df = spark.read.parquet(path)
    if "group" in df.columns:
        raise ValueError(
            f"{path} is a GROUPED baseline (save_grouped_baseline); "
            "load it with load_grouped_baseline / pass drift_group_by "
            "— silently flattening per-group sketches would merge "
            "cohorts into a table-level sketch and mask cohort drift"
        )
    return {
        r["column"]: QuantileGrid.deserialize(r["sketch"]) for r in df.collect()
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
