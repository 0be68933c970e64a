"""Deterministic correction pipeline.

The reference's LLM-codegen path falls back to a deterministic cleaner
(data_corrector.py:536-642) whose step order defines the canonical
correction semantics: dedup -> drop-high-null-columns -> impute ->
cap-outliers -> standardize-text -> cast. Here that pipeline is a
*rule-driven plan builder*: stats come from one profile pass, then all
steps append to a single lazy DataFrame plan executed in one action.
Arbitrary generated code never runs (SURVEY.md §2.9 U1).

Pinned byte-match semantics (SURVEY.md §7 hard parts):
  * dedup keep-first = min by an explicit ordering column (pandas
    keep='first' is positional; Spark has no stable row order, so the
    caller provides the order key — doc_id by default);
  * mode tie-break = smallest value (pandas mode() is sorted);
  * impute median if null share < 30% else mean
    (data_corrector.py:568-577);
  * cap = clip to [Q1-1.5*IQR, Q3+1.5*IQR] (data_corrector.py:592-601);
  * standardize = trim + initcap (data_corrector.py:607-610; divergence
    from pandas str.title() on apostrophes is documented + tested).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import config
from .profile import ProfileResult, profile
from .session import local_frame


@dataclass
class CorrectionPlan:
    """A serializable record of what the cleaner will do — the engine's
    replacement for the reference's generated pandas script."""

    dedup_keys: list[str] | None = None          # None = full row
    order_key: str | None = None                 # keep-first tie-break
    dropped_columns: list[str] = field(default_factory=list)
    imputations: dict[str, Any] = field(default_factory=dict)
    caps: dict[str, tuple[float, float]] = field(default_factory=dict)
    standardize_columns: list[str] = field(default_factory=list)
    casts: dict[str, str] = field(default_factory=dict)

    def describe(self) -> dict:
        return {
            "dedup_keys": self.dedup_keys,
            "dropped_columns": self.dropped_columns,
            "imputations": self.imputations,
            "caps": {k: list(v) for k, v in self.caps.items()},
            "standardize_columns": self.standardize_columns,
            "casts": self.casts,
        }


def build_plan(
    df: DataFrame,
    p: ProfileResult | None = None,
    dedup_keys: list[str] | None = None,
    order_key: str | None = None,
    standardize: list[str] | None = None,
    casts: dict[str, str] | None = None,
) -> CorrectionPlan:
    """Derive the correction plan from profile stats (one extra tiny
    job for modes of string columns needing imputation)."""
    if p is None:
        p = profile(df, detect_formats=False)
    n = max(p.row_count, 1)
    plan = CorrectionPlan(dedup_keys=dedup_keys, order_key=order_key)
    numeric_types = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    for c, st in p.stats.items():
        null_share = 1.0 - (st.get("non_null_count") or 0) / n
        dtype = p.column_types.get(c, "")
        if null_share > config.HIGH_NULL_DROP_THRESHOLD:
            plan.dropped_columns.append(c)
            continue
        if null_share > 0:
            if dtype in numeric_types or dtype.startswith("decimal"):
                if null_share < config.IMPUTE_MEDIAN_NULL_SHARE:
                    plan.imputations[c] = st.get("median")
                else:
                    plan.imputations[c] = st.get("mean")
            elif dtype == "string":
                plan.imputations[c] = "__MODE__"  # resolved below
        if "q1" in st and st.get("q1") is not None and st.get("q3") is not None:
            iqr = st["q3"] - st["q1"]
            if iqr > 0:
                plan.caps[c] = (st["q1"] - 1.5 * iqr, st["q3"] + 1.5 * iqr)
    # resolve ALL modes in one fused melt+window job: mode(c) = most
    # frequent non-null value, (count desc, value asc) tie-break —
    # reference mode()[0] semantics (previously one job per column)
    mode_cols = [c for c, v in plan.imputations.items() if v == "__MODE__"]
    if mode_cols:
        # backslash-escape the label literal: doubling a quote ('') in
        # Spark SQL lexes as two ADJACENT literals that concatenate
        # ('it''s' -> 'its'), so a quoted column name would mis-key the
        # mode lookup and silently impute 'Unknown' (round-2 ADVICE)
        stack_expr = ", ".join(
            "'{lbl}', `{ref}`".format(
                lbl=c.replace("\\", "\\\\").replace("'", "\\'"),
                ref=c.replace("`", "``"),
            )
            for c in mode_cols
        )
        melted = df.select(
            F.expr(f"stack({len(mode_cols)}, {stack_expr}) as (col_name, value)")
        ).filter(F.col("value").isNotNull())
        w = Window.partitionBy("col_name").orderBy(F.desc("cnt"), F.asc("value"))
        top = (
            melted.groupBy("col_name", "value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("_rnk", F.row_number().over(w))
            .filter(F.col("_rnk") == 1)
            .collect()
        )
        modes = {r["col_name"]: r["value"] for r in top}
        for c in mode_cols:
            plan.imputations[c] = modes.get(c, "Unknown")
    plan.standardize_columns = standardize or []
    plan.casts = casts or {}
    return plan


def apply_plan(df: DataFrame, plan: CorrectionPlan) -> DataFrame:
    """Apply the plan as ONE lazy transformation chain — executed in a
    single action by the caller. Step order matches the reference
    fallback cleaner exactly (data_corrector.py:547-631).

    Steps 3-6 (impute, cap, standardize, cast) compose into a SINGLE
    select: every step transforms a column independently of the
    others, so chaining them as nested expressions is semantically
    identical to the former one-withColumn-per-step build — which
    created one nested projection per touched column and quadratic
    analyzer time on wide tables (round-2 directive #7; plan-build is
    linear in column count now, pinned by a 500-column timing test)."""
    out = df
    # 1. dedup (keep-first by order_key for determinism)
    if plan.dedup_keys is not None and plan.order_key:
        w = Window.partitionBy(*plan.dedup_keys).orderBy(F.asc(plan.order_key))
        out = out.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    elif plan.dedup_keys is not None:
        out = out.dropDuplicates(plan.dedup_keys)
    else:
        out = out.dropDuplicates()
    # 2. drop high-null columns
    if plan.dropped_columns:
        out = out.drop(*plan.dropped_columns)

    _int_types = {"tinyint", "smallint", "int", "bigint"}
    dtypes = dict(out.dtypes)
    numeric_imp = {
        c: v
        for c, v in plan.imputations.items()
        if c in dtypes and isinstance(v, (int, float)) and v is not None
    }
    string_imp = {
        c: v
        for c, v in plan.imputations.items()
        if c in dtypes and isinstance(v, str)
    }

    exprs = []
    for c in out.columns:
        e = F.col(c)
        dt = dtypes[c]
        # 3. impute. Pandas fillna UPCASTS an int column to float when
        # the fill value is fractional (the reference fills 2.5, not 2)
        # — a plain cast-to-column-type fill would silently truncate,
        # so such columns go to double first, keeping the applied value
        # identical to plan.imputations.
        numeric_dt = dt in _int_types or dt in ("float", "double") or dt.startswith(
            "decimal"
        )
        if c in numeric_imp and numeric_dt:
            # type guard mirrors df.na.fill(dict): numeric fills apply
            # only to numeric columns (a plan naming a string/timestamp
            # column is skipped, not coerced — round-3 review finding)
            v = numeric_imp[c]
            if dt in _int_types and float(v) != float(int(v)):
                e = e.cast("double")
                dt = "double"
            # F.lit(v) keeps integer fills exact (no double round-trip
            # corrupting bigints above 2^53); cast matches na.fill.
            # Floating columns need the isnan branch too: df.na.fill and
            # pandas fillna both replace NaN, but NaN is NOT NULL in
            # Spark so coalesce alone would leave it (round-3 ADVICE).
            # isnan is only defined for float/double — an upcast int
            # column can't hold NaN, so the guard keys on the source
            # dtype, not the post-upcast one.
            fill = F.lit(v).cast(dt)
            if dtypes[c] in ("float", "double"):
                e = F.when(e.isNull() | F.isnan(e), fill).otherwise(e)
            else:
                e = F.coalesce(e, fill)
        elif c in string_imp and dt == "string":
            e = F.coalesce(e, F.lit(string_imp[c]))
        # 4. cap outliers: clip == least(greatest(x, lo), hi). Same
        # upcast rule: fractional IQR bounds on an int column keep the
        # double (pandas clip with float bounds yields float). Missing
        # values that survive imputation (caps-only plans — profile
        # counts NaN as non-null, so null_share can be 0) must pass
        # through like pandas clip: Spark's least/greatest SKIP nulls
        # (NULL would become the lower cap) and sort NaN ABOVE every
        # value (NaN would become the upper cap) — both guarded
        # (round-4 review findings, runtime-confirmed).
        if c in plan.caps:
            lo, hi = plan.caps[c]
            clipped = F.least(F.greatest(e.cast("double"), F.lit(lo)), F.lit(hi))
            missing = (
                e.isNull() | F.isnan(e)
                if dtypes[c] in ("float", "double")
                else e.isNull()
            )
            clipped = F.when(missing, e.cast("double")).otherwise(clipped)
            fractional_bounds = (lo != int(lo)) or (hi != int(hi))
            if dt in _int_types and fractional_bounds:
                e = clipped
                dt = "double"
            else:
                e = clipped.cast(dt)
        # 5. standardize text: strip + title-case
        if c in plan.standardize_columns:
            e = F.initcap(F.trim(e))
        # 6. casts (try_cast == errors='coerce')
        if c in plan.casts:
            e = e.try_cast(plan.casts[c])
        exprs.append(e.alias(c))
    return out.select(*exprs)


def clean(
    df: DataFrame,
    dedup_keys: list[str] | None = None,
    order_key: str | None = None,
    standardize: list[str] | None = None,
    casts: dict[str, str] | None = None,
) -> tuple[DataFrame, CorrectionPlan]:
    plan = build_plan(df, dedup_keys=dedup_keys, order_key=order_key,
                      standardize=standardize, casts=casts)
    return apply_plan(df, plan), plan


def summary_report(
    original: DataFrame,
    cleaned: DataFrame,
    include_quality: bool = True,
    exact: bool = True,
) -> DataFrame:
    """Before/after correction summary (reference
    pipeline_generator.py:233-309 ``generate_summary_report`` +
    text_processor.py:645-718 change report): shape delta, per-column
    null deltas, duplicate-row delta, and the quality terms
    before/after, as a long-format DataFrame
    ``(metric, column, before, after)``.

    Cost model: ONE fused aggregation per side for row count +
    per-column null counts; the exact duplicate count is one
    distinct-count job per side (``exact=False`` swaps in the
    approx-distinct row-hash, the 10^12-row path); quality terms reuse
    profile.quality_report. Columns dropped by the correction simply
    have no after-side null row (the shape delta carries the drop).
    """
    spark = original.sparkSession

    def side(df: DataFrame):
        exprs = [F.count(F.lit(1)).alias("_n")] + [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{i}")
            for i, c in enumerate(df.columns)
        ]
        row = df.agg(*exprs).collect()[0]
        n = int(row["_n"] or 0)
        nulls = {c: int(row[f"_null_{i}"] or 0) for i, c in enumerate(df.columns)}
        if exact:
            dup = n - df.distinct().count()
        else:
            dup = max(
                0,
                n
                - int(
                    df.agg(
                        F.approx_count_distinct(F.xxhash64(*df.columns), 0.005)
                    ).collect()[0][0]
                ),
            )
        return n, nulls, dup

    n_b, nulls_b, dup_b = side(original)
    n_a, nulls_a, dup_a = side(cleaned)
    rows: list[tuple[str, str, float | None, float | None]] = [
        ("rows", "", float(n_b), float(n_a)),
        ("columns", "", float(len(original.columns)), float(len(cleaned.columns))),
        ("duplicate_rows", "", float(dup_b), float(dup_a)),
    ]
    for c in original.columns:
        rows.append(
            (
                "null_count",
                c,
                float(nulls_b[c]),
                float(nulls_a[c]) if c in nulls_a else None,
            )
        )
    if include_quality:
        from .profile import quality_report

        qb = quality_report(original, exact=exact)
        qa = quality_report(cleaned, exact=exact)

        def term(q, *path):
            v = q
            for p in path:
                v = v[p]
            return float(v)

        for metric, path in (
            ("missing_pct", ("missing_values", "missing_percentage")),
            ("dup_pct", ("duplicates", "duplicate_percentage")),
            ("outlier_pct", ("outliers", "outlier_percentage")),
            ("quality_score", ("quality_score",)),
        ):
            rows.append((metric, "", term(qb, *path), term(qa, *path)))
        rows.append(
            (
                "n_issues",
                "",
                float(len(qb["data_consistency"]["issues"])),
                float(len(qa["data_consistency"]["issues"])),
            )
        )
    from pyspark.sql import types as _T

    schema = _T.StructType(
        [
            _T.StructField("metric", _T.StringType(), False),
            _T.StructField("column", _T.StringType(), False),
            _T.StructField("before", _T.DoubleType(), True),
            _T.StructField("after", _T.DoubleType(), True),
        ]
    )
    return local_frame(spark, rows, schema)
