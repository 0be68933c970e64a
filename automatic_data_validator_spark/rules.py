"""Constraint rules: a small declarative DSL compiled to Spark SQL
expressions, evaluated in one shuffle-aware pass.

Replaces the reference's LLM-generated pandas code + exec() sandbox
(data_corrector.py:325-367 AST allowlist, 385-521 exec env) with rules
as data: each rule compiles to a Catalyst expression, and free-form
``expr`` rules pass an identifier allowlist check (the port of the
reference's AST walk — arbitrary Python never runs per-row).

Execution model (north_rule: "one shuffle-aware pass ... per-partition
pass/fail verdicts and violation rows"):

  * All row-level rules are evaluated in a single table scan that
    hash-aggregates per ``spark_partition_id()`` — no shuffle beyond
    the tiny final combine (one row per partition).
  * Violation rows come from a second, filtered pass over the same
    rows. ``evaluate_row_rules`` runs both passes over its input.
    ``validate.run_validation`` runs them over its check frame: one
    fail flag per rule (``not coalesce(pred, false)``) beside the
    columns the other checks read. It materializes that frame only
    when the frame copies no source column whole but the keys (the
    documents shape: a key, the flags, media refs and nested
    stand-ins) and the run is not in spill mode. There one source
    read replaces one per consumer (4 on the full_validate
    benchmark). A profiled flat table would copy its source into the
    frame, and a spill-mode frame would hold up to 10^12 rows in
    block storage with no lineage to recompute a lost block, so both
    keep one column-pruned source scan per consumer.
  * ``unique`` and ``referential`` rules need a shuffle by design;
    they delegate to dedup.py / refcheck.py and their verdicts are
    unioned in with the same schema.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import local_frame

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("violation_count", T.LongType(), False),
        T.StructField("pass", T.BooleanType(), False),
    ]
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("detail", T.StringType(), True),
    ]
)


def distributed_verdicts(
    totals_df: DataFrame,
    violations: DataFrame,
    rule_id: str,
    distinct_doc: bool = False,
) -> DataFrame:
    """Verdicts as a cluster-side full outer join of per-partition row
    totals (partition_id, row_count) against per-partition violation
    counts — nothing is collected to the driver. This is the verdict
    path for inputs whose partition count exceeds what the driver
    should hold as rows (~8M partitions at 10^12 docs / 128MB splits);
    partitions with violations but no totals entry surface as failing
    verdicts with row_count 0 (full join), never silently dropped.
    ``distinct_doc``: count violations per distinct (partition, doc)
    instead of per violation row (refcheck semantics)."""
    v = violations
    if distinct_doc:
        v = v.select("partition_id", "doc_id").distinct()
    viol_counts = v.groupBy("partition_id").agg(F.count(F.lit(1)).alias("_viol"))
    return (
        totals_df.select(
            F.col("partition_id").cast("int").alias("partition_id"),
            F.col("row_count").cast("long").alias("_total"),
        )
        .join(viol_counts, "partition_id", "full")
        .select(
            F.col("partition_id").cast("int").alias("partition_id"),
            F.lit(rule_id).alias("rule_id"),
            F.coalesce("_total", F.lit(0)).cast("long").alias("row_count"),
            F.coalesce("_viol", F.lit(0)).cast("long").alias("violation_count"),
            (F.coalesce("_viol", F.lit(0)) == 0).alias("pass"),
        )
    )


def partition_verdicts(
    df: DataFrame,
    violations: DataFrame,
    rule_id: str,
    partition_totals: Any,
    viol_by_pid: "dict[int, int] | None",
    distinct_doc: bool = False,
) -> DataFrame:
    """The verdict tail a per-partition check (uniqueness, referential)
    shares once its own violation set is built.

    ``viol_by_pid`` is the check's collected per-partition violation
    count, or None on the distributed path. A callable
    ``partition_totals`` is resolved here, so the caller's own collect
    has run before the totals arrive and no job runs after them. A
    DataFrame of totals (or ``viol_by_pid`` None) takes
    ``distributed_verdicts``; no totals at all costs one standalone
    partition-count pass over ``df``. A violation in a partition the
    totals map does not know means the reused partition map diverged
    from this scan's assignment: it surfaces as a failing verdict with
    row_count 0 (unknown) instead of vanishing."""
    if callable(partition_totals):
        partition_totals = partition_totals()
    if viol_by_pid is None or isinstance(partition_totals, DataFrame):
        return distributed_verdicts(
            partition_totals, violations, rule_id, distinct_doc=distinct_doc
        )
    if partition_totals is None:
        partition_totals = {
            r["partition_id"]: r["cnt"]
            for r in df.select(
                F.spark_partition_id().cast("int").alias("partition_id")
            )
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
    rows = [
        (int(pid), rule_id, int(total), int(viol_by_pid.get(pid, 0)),
         viol_by_pid.get(pid, 0) == 0)
        for pid, total in sorted(partition_totals.items())
    ]
    for pid in sorted(set(viol_by_pid) - set(partition_totals)):
        rows.append((int(pid), rule_id, 0, int(viol_by_pid[pid]), False))
    return local_frame(df.sparkSession, rows, VERDICT_SCHEMA)


@dataclass
class Rule:
    """One declarative constraint.

    kind:
      not_null | expr | range | regex | in_set | unique_key |
      span_order | span_shape | referential
    ``expr`` rules: SQL boolean expression where TRUE means PASS.
    """

    rule_id: str
    kind: str
    column: str | None = None
    expr: str | None = None
    params: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        # rule ids travel through a comma-joined pack AND are
        # interpolated into stack() SQL (evaluate_row_rules) — restrict
        # to a safe identifier charset so neither the separator nor the
        # SQL string can be corrupted/injected
        if not re.fullmatch(r"[A-Za-z0-9_.\-]+", self.rule_id or ""):
            raise ValueError(
                "rule_id must match [A-Za-z0-9_.-]+ "
                f"(got {self.rule_id!r})"
            )


# --- expression safety (port of reference data_corrector.py:325-367) -----
_ALLOWED_FUNCTIONS = {
    # comparison / logic handled by grammar; these are callables
    "abs", "coalesce", "concat", "length", "lower", "upper", "trim",
    "ltrim", "rtrim", "substring", "substr", "instr", "regexp_like",
    "rlike", "like", "round", "floor", "ceil", "ceiling", "sqrt", "exp",
    "ln", "log", "log10", "pow", "power", "greatest", "least", "size",
    "cardinality", "element_at", "array_contains", "arrays_overlap",
    "filter", "exists", "forall", "transform", "aggregate", "reduce",
    "struct", "named_struct", "to_json", "from_json", "get_json_object",
    "split", "regexp_extract", "regexp_replace", "isnull", "isnotnull",
    "nullif", "nvl", "if", "ifnull", "case", "when", "then", "else",
    "end", "cast", "try_cast", "date", "to_date", "to_timestamp",
    "try_to_timestamp", "year", "month", "day", "hour", "minute",
    "second", "datediff", "date_add", "date_sub", "current_date",
    "initcap", "translate", "format_string", "xxhash64", "hash", "md5",
    "sha2", "crc32", "char_length", "position", "left", "right",
    "array", "array_join", "array_min", "array_max", "array_distinct",
    "array_position", "slice", "sort_array", "zip_with", "map_keys",
    "map_values", "sentences", "sequence",
}
_KEYWORDS = {
    "and", "or", "not", "in", "is", "null", "true", "false", "between",
    "like", "rlike", "distinct", "as", "int", "bigint", "double",
    "float", "string", "boolean", "timestamp", "date", "decimal",
    "array", "map", "x",  # `x`/`acc` lambda vars
    "acc",
}
_BLOCKED = re.compile(
    r"(?i)\b(select|insert|update|delete|drop|create|alter|exec|java_method|"
    r"reflect|shell|system|load|overwrite|grant|truncate)\b"
)
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def expr_identifiers(expr: str) -> list[str]:
    """Candidate identifiers of a rule expression: string and numeric
    literals stripped (1e6 / 0x1F would otherwise surface bogus
    "identifiers" e6 / x1F), struct-field tails dropped (a.b.c
    yields only the head a). Shared by the safety allowlist below and
    pipeline emission's fixture selection."""
    stripped = re.sub(r"'[^']*'", "''", expr)
    stripped = re.sub(r"\b0[xX][0-9a-fA-F]+\b", " 0 ", stripped)
    stripped = re.sub(r"\b\d+(?:\.\d+)?(?:[eE][+-]?\d+)?\b", " 0 ", stripped)
    return _IDENT.findall(re.sub(r"\.\w+", "", stripped))


def validate_sql_expr(expr: str, allowed_columns: list[str]) -> None:
    """Reject expressions referencing anything outside the allowlist.

    Mirrors the intent of the reference's AST safety walk
    (data_corrector.py:325-367): only known columns, whitelisted
    functions, and SQL keywords may appear.
    """
    if _BLOCKED.search(expr):
        raise ValueError(f"blocked keyword in rule expression: {expr!r}")
    cols = {c.lower() for c in allowed_columns}
    for token in expr_identifiers(expr):
        t = token.lower()
        if t in _KEYWORDS or t in _ALLOWED_FUNCTIONS or t in cols:
            continue
        raise ValueError(f"identifier {token!r} not allowed in rule expression")


# --- compilation -----------------------------------------------------------
#
# Span-rule expressions are deliberately written to MINIMIZE Catalyst
# higher-order functions: HOF lambdas run interpreted (outside
# whole-stage codegen) and allocate per element — measured 20x slower
# than the equivalent native collection expressions at 10M docs
# (aggregate-with-struct 34.8s vs array_sort compare 1.7s on local[16]).


def span_order_pred(spans_col: str) -> Column:
    """Offsets strictly increasing, no nulls — expressed with native
    collection functions only (field extraction, array_sort,
    array_distinct, array_compact): strictly increasing ⟺ (no null
    offsets) ∧ (sorted) ∧ (all distinct)."""
    offs = F.col(f"{spans_col}.offset")
    return (
        (F.size(F.array_compact(offs)) == F.size(offs))
        & (offs == F.array_sort(offs))
        & (F.size(F.array_distinct(offs)) == F.size(offs))
    )


def span_shape_pred(spans_col: str) -> Column:
    """Text spans carry text and no media_ref; media spans the reverse.
    Exact element-wise check via a single NOT EXISTS with a flat
    lambda (no struct allocation — 3x faster than forall here)."""
    return ~F.expr(
        f"exists({spans_col}, x -> not ("
        "(x.kind = 'text' and x.text is not null and x.media_ref is null) "
        "or (x.kind <> 'text' and x.media_ref is not null and x.text is null)))"
    )


def compile_rule(rule: Rule, df: DataFrame) -> Column:
    """Compile a row-level rule to a boolean Column (TRUE = row passes)."""
    c = F.col(rule.column) if rule.column else None
    if rule.kind == "not_null":
        return c.isNotNull()
    if rule.kind == "range":
        lo = rule.params.get("min")
        hi = rule.params.get("max")
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= F.lit(lo))
        if hi is not None:
            cond = cond & (c <= F.lit(hi))
        return F.when(c.isNull(), F.lit(True)).otherwise(cond)
    if rule.kind == "regex":
        return F.when(c.isNull(), F.lit(True)).otherwise(c.rlike(rule.params["pattern"]))
    if rule.kind == "in_set":
        return F.when(c.isNull(), F.lit(True)).otherwise(
            c.isin(*rule.params["values"])
        )
    if rule.kind == "span_order":
        return span_order_pred(rule.column or "spans")
    if rule.kind == "span_shape":
        return span_shape_pred(rule.column or "spans")
    if rule.kind == "expr":
        validate_sql_expr(rule.expr, df.columns)
        return F.expr(rule.expr)
    raise ValueError(f"rule kind {rule.kind!r} is not row-level compilable")


def row_level(rules: list[Rule]) -> list[Rule]:
    return [r for r in rules if r.kind not in ("unique_key", "referential")]


def per_partition_rule_aggregate(
    df: DataFrame,
    preds: list[tuple[str, Column]],
    extra_exprs: "list | tuple" = (),
) -> DataFrame:
    """One hash-aggregate scan grouped by ``spark_partition_id()``:
    row_count + one violation count per rule, plus any
    ``extra_exprs`` (aliased aggregate expressions) computed in the
    SAME pass — the hook the fused rules+profile scan uses so the
    profiler costs zero additional input reads (round-2 directive #1).
    Group on the expression directly (no withColumn): a user column
    named "partition_id" must not be shadowed while predicates
    evaluate."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("row_count"),
        *[
            F.sum(F.coalesce((~p).cast("long"), F.lit(1))).alias(f"viol_{i}")
            for i, (_rid, p) in enumerate(preds)
        ],
        *extra_exprs,
    )


def verdicts_from_per_partition(
    per_part: DataFrame, rule_ids: list[str]
) -> DataFrame:
    """Unpivot the per-partition aggregate into VERDICT_SCHEMA rows."""
    stack_parts = ", ".join(
        f"'{rid}', viol_{i}" for i, rid in enumerate(rule_ids)
    )
    return per_part.select(
        F.col("partition_id").cast("int"),
        F.expr(
            f"stack({len(rule_ids)}, {stack_parts}) as (rule_id, violation_count)"
        ),
        F.col("row_count"),
    ).select(
        "partition_id",
        "rule_id",
        F.col("row_count").cast("long"),
        F.col("violation_count").cast("long"),
        (F.col("violation_count") == 0).alias("pass"),
    )


def violation_rows(
    df: DataFrame,
    preds: list[tuple[str, Column]],
    key_column: str = "doc_id",
) -> DataFrame:
    """Violation rows (sparse filter scan). Failed rule ids are packed
    into one comma-joined string (plain when/concat_ws — no array
    lambdas), rows with any failure survive the filter, then a
    split+explode fans out one row per (doc, failed rule)."""
    failed_csv = F.concat_ws(
        ",",
        *[
            F.when(F.coalesce(p, F.lit(False)) == F.lit(False), F.lit(rid))
            for rid, p in preds
        ],
    )
    return (
        df.select(
            F.col(key_column).cast("string").alias("doc_id"),
            F.spark_partition_id().cast("int").alias("partition_id"),
            failed_csv.alias("_failed"),
        )
        .filter(F.col("_failed") != "")
        .select(
            "doc_id",
            F.explode(F.split("_failed", ",")).alias("rule_id"),
            "partition_id",
            F.lit(None).cast("string").alias("detail"),
        )
        .select("doc_id", "rule_id", "partition_id", "detail")
    )


def evaluate_row_rules(
    df: DataFrame,
    rules: list[Rule],
    key_column: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Evaluate all row-level rules; return (verdicts, violations).

    verdicts: one row per (input partition, rule) — from a single
    aggregate scan grouped by ``spark_partition_id()``.
    violations: (doc_id, rule_id, partition_id, detail) rows — from a
    second filtered scan; TRUE-pass rows never leave the executors.
    """
    rr = row_level(rules)
    if not rr:
        raise ValueError("no row-level rules to evaluate")
    preds = [(r.rule_id, compile_rule(r, df)) for r in rr]
    per_part = per_partition_rule_aggregate(df, preds)
    verdicts = verdicts_from_per_partition(per_part, [rid for rid, _p in preds])
    return verdicts, violation_rows(df, preds, key_column)
