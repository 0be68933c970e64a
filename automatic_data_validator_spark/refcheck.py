"""Referential integrity: every non-null span.media_ref must exist in
the media catalog (north_star: "referential checks on media_ref via
broadcast/sort-merge join against a media catalog").

Strategy selection is explicit: the catalog is broadcast when small
(dimension tables almost always are), else the join falls back to
sort-merge and the exploded ref side is pre-distinct-ed per partition
to shrink the shuffle. Violations are extracted with a left-anti join;
per-partition attribution rides the fact rows' spark_partition_id.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import config
from .session import local_frame


def media_refs_expr(spans_col: str = "spans"):
    """array<string> of a row's DISTINCT non-null media refs — direct
    nested-field extraction so parquet reads only the media_ref
    subfield (see distinct_refs). Shared by the batch and streaming
    referential checks."""
    return F.array_distinct(F.array_compact(F.col(f"{spans_col}.media_ref")))


def distinct_refs(
    df: DataFrame, spans_col: str = "spans", refs_col: "str | None" = None
) -> DataFrame:
    """Distinct non-null media refs with per-input-partition attribution.

    Dedups (partition_id, media_ref) BEFORE the join shuffle — at
    10^12 docs the distinct refs per partition are orders of magnitude
    fewer than span rows.

    The refs come from DIRECT nested-field extraction
    (``spans.media_ref`` = GetArrayStructFields) + array_compact, NOT a
    transform lambda: Catalyst's nested-schema pruning sees through the
    former but not through HOF lambdas, so this formulation reads ONLY
    the media_ref subfield from parquet (ReadSchema
    ``spans:array<struct<media_ref:string>>``, pinned by
    test_referential_scan_prunes_to_media_ref) — at 10^12 docs with
    text-dominant spans that is ~10% of the former scan's bytes.
    array_compact(x) ≡ filter(x, isNotNull) with order preserved, so
    violation rows are unchanged (one per doc × distinct ref).

    ``refs_col`` names a column that already holds
    ``media_refs_expr(spans_col)`` (run_validation's check frame);
    ``spans_col`` is then not read.
    """
    refs = F.col(refs_col) if refs_col else media_refs_expr(spans_col)
    return (
        df.select(
            F.spark_partition_id().cast("int").alias("partition_id"),
            F.col("doc_id").cast("string").alias("doc_id"),
            # per-row distinct BEFORE explode: a doc repeating one ref
            # emits it once (also keeps violation rows one-per-doc×ref)
            F.explode(refs).alias("media_ref"),
        )
    )


def referential_check(
    df: DataFrame,
    catalog: DataFrame,
    spans_col: str = "spans",
    rule_id: str = "referential_media_ref",
    catalog_rows: int | None = None,
    broadcast_limit: int = config.BROADCAST_ROW_LIMIT,
    partition_totals: "dict[int, int] | DataFrame | Any | None" = None,
    *,
    distributed: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Return (verdicts, violations) in rules VERDICT/VIOLATION schema.

    Violation = a doc containing at least one dangling media_ref; one
    violation row per (doc, dangling ref). ONE pass over the fact
    table: the dangling set is kept as a localCheckpoint (small;
    no cache-manager entry outlives the call, and AQE may coalesce the
    join's partitions) and per-partition verdict counts aggregate from
    it; partition_totals reuses row counts from the row-rules pass when
    available (same scan partitioning => same spark_partition_id
    assignment).
    ``distributed`` as in dedup.uniqueness_check.
    """
    verdicts, violations, _rows = referential_check_counted(
        df, catalog, spans_col, rule_id, catalog_rows, broadcast_limit,
        partition_totals, distributed=distributed,
    )
    return verdicts, violations


def referential_check_counted(
    df: DataFrame,
    catalog: DataFrame,
    spans_col: str = "spans",
    rule_id: str = "referential_media_ref",
    catalog_rows: int | None = None,
    broadcast_limit: int = config.BROADCAST_ROW_LIMIT,
    partition_totals: "dict[int, int] | DataFrame | Any | None" = None,
    *,
    distributed: bool = False,
    refs_col: "str | None" = None,
) -> "tuple[DataFrame, DataFrame, int | None]":
    """referential_check plus the exact violation ROW count (verdicts
    count distinct (partition, doc) pairs, rows count (doc, ref)
    pairs). The local verdict path reads it off the per-partition
    collect its verdicts need anyway, so it costs no extra job; the
    distributed path never collects per-partition rows and returns
    None. ``refs_col`` as in distinct_refs."""
    refs = distinct_refs(df, spans_col, refs_col)
    cat = catalog.select("media_ref").distinct()
    if catalog_rows is None:
        # cheap metadata estimate: count the (small) dimension once
        catalog_rows = cat.count()
    if catalog_rows <= broadcast_limit:
        cat_side = F.broadcast(cat)
    else:
        cat_side = cat.hint("merge")
    # dangling is consumed twice (violation rows + per-partition verdict
    # counts) and is small; checkpoint so the explode+join runs once.
    # The local path's per-partition count collect is the job that
    # fills it; the distributed path fills it now.
    distributed = distributed or isinstance(partition_totals, DataFrame)
    dangling = refs.join(cat_side, "media_ref", "left_anti").localCheckpoint(
        eager=distributed
    )
    violations = dangling.select(
        "doc_id",
        F.lit(rule_id).alias("rule_id"),
        "partition_id",
        F.col("media_ref").alias("detail"),
    )
    # callable totals resolve only AFTER this phase's own scan/join
    # has materialized (and, local path, its per-partition counts are
    # collected), so no job runs after the totals arrive
    if not distributed:
        per_pid = (
            dangling.groupBy("partition_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("refs"))
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("docs"), F.sum("refs").alias("refs"))
            .collect()
        )
        viol_by_pid = {r["partition_id"]: r["docs"] for r in per_pid}
        n_rows = sum(int(r["refs"]) for r in per_pid)
    if callable(partition_totals):
        partition_totals = partition_totals()
    if distributed or isinstance(partition_totals, DataFrame):
        from .rules import distributed_verdicts

        return (
            distributed_verdicts(
                partition_totals, violations, rule_id, distinct_doc=True
            ),
            violations,
            None,
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
    from .rules import VERDICT_SCHEMA

    rows = [
        (int(pid), rule_id, int(total), int(viol_by_pid.get(pid, 0)),
         viol_by_pid.get(pid, 0) == 0)
        for pid, total in sorted(partition_totals.items())
    ]
    # violations in a partition missing from the (possibly reused)
    # totals map must fail loudly, not vanish from the verdicts
    for pid in sorted(set(viol_by_pid) - set(partition_totals)):
        rows.append((int(pid), rule_id, 0, int(viol_by_pid[pid]), False))
    verdicts = local_frame(df.sparkSession, rows, VERDICT_SCHEMA)
    return verdicts, violations, n_rows
