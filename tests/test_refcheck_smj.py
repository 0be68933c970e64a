"""Referential check: sort-merge path must produce identical
violations to the broadcast path; snapshot_of invalidation."""

from __future__ import annotations

import pyspark.sql.functions as F

from scan_counters import executed_plans

from automatic_data_validator_spark.refcheck import referential_check
from automatic_data_validator_spark.state import snapshot_of
from automatic_data_validator_spark.validate import run_validation


def _viols(x):
    return sorted((r["doc_id"], r["detail"]) for r in x.collect())


def test_smj_path_matches_broadcast(spark, docs, catalog):
    _vb, xb = referential_check(docs, catalog)  # broadcast (catalog small)
    broadcast_viols = _viols(xb)
    # no clearCache between the two calls: the check leaves no cache
    # entry that could serve the broadcast result to the hinted plan
    out = {}
    plans = executed_plans(spark, lambda: out.update(
        r=referential_check(docs, catalog, broadcast_limit=0)))  # force SMJ
    _vm, xm = out["r"]
    assert broadcast_viols == _viols(xm)
    # the merge hint lands in the initial physical plan, which the SQL
    # status store keeps after the final one (at runtime AQE may
    # legitimately downgrade back to broadcast for a tiny catalog —
    # that's the backstop working, not a bug)
    assert any(
        "SortMergeJoin" in p or "ShuffledHashJoin" in p for p in plans
    ), plans


def test_snapshot_of_changes_with_input(spark, tmp_path):
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(10).write.parquet(p1)
    spark.range(20).write.parquet(p2)
    s1 = snapshot_of(spark.read.parquet(p1))
    s1_again = snapshot_of(spark.read.parquet(p1))
    s2 = snapshot_of(spark.read.parquet(p2))
    assert s1 == s1_again != s2


def test_auto_snapshot_invalidates_checkpoint(spark, tmp_path):
    ck = str(tmp_path / "ck")
    p1, p2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    from automatic_data_validator_spark.synth import make_documents

    make_documents(spark, 500, n_media=100).write.parquet(p1)
    make_documents(spark, 800, n_media=100, seed=9).write.parquet(p2)
    d1 = spark.read.parquet(p1)
    d2 = spark.read.parquet(p2)
    r1 = run_validation(spark, d1, checkpoint_dir=ck, snapshot_id="auto",
                        with_profile=False)
    n1 = r1.verdicts.agg(F.sum("row_count")).collect()[0][0]
    # different input, same checkpoint dir: must NOT resume stale phases
    r2 = run_validation(spark, d2, checkpoint_dir=ck, snapshot_id="auto",
                        with_profile=False)
    n2 = r2.verdicts.agg(F.sum("row_count")).collect()[0][0]
    assert n1 != n2  # row counts reflect each input, not the cached one


def test_referential_scan_prunes_to_media_ref(spark, tmp_path):
    """Nested-schema pruning must reach the parquet reader: the
    referential check reads ONLY spans.media_ref (not the text
    payload) — at 10^12 docs with text-dominant spans the difference
    is ~10x the scanned bytes (round-3 plan audit)."""
    import re

    from automatic_data_validator_spark.synth import (
        make_documents,
        make_media_catalog,
    )

    path = str(tmp_path / "prune_docs")
    make_documents(spark, 5_000, n_media=300, seed=9).write.parquet(path)
    docs = spark.read.parquet(path)
    cat = make_media_catalog(spark, 300, seed=9)
    # the dangling set is checkpointed inside the call: read the scan
    # from the executed plans the SQL status store kept
    plans = executed_plans(spark, lambda: referential_check(docs, cat))
    schemas = re.findall(r"ReadSchema: ([^\n]+)", "\n".join(plans))
    fact = [s for s in schemas if "spans" in s]
    assert fact, schemas
    for s in fact:
        assert "media_ref" in s and "text" not in s, s
