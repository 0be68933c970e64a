"""Checkpoint/resume semantics (SURVEY.md §5.2 item 6): interrupt
after phase k, restart, identical outputs, no duplicated lineage."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from automatic_data_validator_spark.state import Checkpointer
from automatic_data_validator_spark.validate import canonical_violations, run_validation


def _viol_key(df):
    return sorted(
        (r["doc_id"], r["rule_id"], r["detail"])
        for r in df.select("doc_id", "rule_id", "detail").collect()
    )


def test_resume_after_partial_run(spark, docs, catalog, tmp_path):
    ck = str(tmp_path / "ckpt")
    full = run_validation(spark, docs, catalog=catalog, checkpoint_dir=ck,
                          with_profile=False)
    golden_verdicts = sorted(map(tuple, full.verdicts.collect()))
    golden_viols = _viol_key(full.violations)

    # simulate a crash after phase 1: drop later phases from _state.json
    state_path = os.path.join(ck, "_state.json")
    state = json.load(open(state_path))
    assert len(state["completed"]) >= 3
    state["completed"] = state["completed"][:1]
    json.dump(state, open(state_path, "w"))

    resumed = run_validation(spark, docs, catalog=catalog, checkpoint_dir=ck,
                             with_profile=False)
    assert sorted(map(tuple, resumed.verdicts.collect())) == golden_verdicts
    assert _viol_key(resumed.violations) == golden_viols
    # lineage has exactly one row per (phase, partition) — no dupes
    lin = resumed.lineage.groupBy("phase", "partition_id", "op").count()
    assert lin.filter(F.col("count") > 1).count() == 0


def test_stale_checkpoint_invalidated_by_rule_version(spark, docs, tmp_path):
    ck = str(tmp_path / "ckpt2")
    run_validation(spark, docs, checkpoint_dir=ck, rule_version="v1",
                   with_profile=False)
    c = Checkpointer(ck, "snap-0", "v2")
    assert not c.is_done("row_rules")  # different rule version -> stale
    c_same = Checkpointer(ck, "snap-0", "v1")
    assert c_same.is_done("row_rules")


def test_canonical_violations_golden_serialization(spark, docs, catalog):
    """Byte-match contract: canonical JSON-lines serialization of the
    violations is identical across runs and partitionings."""
    r1 = run_validation(spark, docs, catalog=catalog, with_profile=False)
    r2 = run_validation(spark, docs.repartition(13), catalog=catalog,
                        with_profile=False)

    def dump(res):
        rows = canonical_violations(res.violations).select(
            "doc_id", "rule_id", "detail"
        ).collect()
        return "\n".join(
            json.dumps({"doc_id": r["doc_id"], "rule_id": r["rule_id"],
                        "detail": r["detail"]}, sort_keys=True)
            for r in rows
        )

    assert dump(r1) == dump(r2)


def test_lineage_durations_present_and_preserved_on_resume(spark, docs, catalog, tmp_path):
    """Every lineage row carries duration_s; a resumed run re-reports
    the ORIGINAL phase durations (from _state.json), not nulls."""
    ck = str(tmp_path / "ckpt3")
    full = run_validation(spark, docs, catalog=catalog, checkpoint_dir=ck,
                          with_profile=False)
    assert full.lineage.filter(F.col("duration_s").isNull()).count() == 0
    orig = {
        r["phase"]: r["duration_s"]
        for r in full.lineage.select("phase", "duration_s").distinct().collect()
    }
    resumed = run_validation(spark, docs, catalog=catalog, checkpoint_dir=ck,
                             with_profile=False)
    res = {
        r["phase"]: r["duration_s"]
        for r in resumed.lineage.select("phase", "duration_s").distinct().collect()
    }
    assert res == orig  # original costs, one duration per phase (no dupes)


def test_mark_done_is_threadsafe(tmp_path):
    """Concurrent mark_done calls must not lose completed phases."""
    import threading

    ck = Checkpointer(str(tmp_path / "ckpt4"))
    phases = [f"phase_{i}" for i in range(16)]
    threads = [threading.Thread(target=ck.mark_done, args=(p,)) for p in phases]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for p in phases:
        assert ck.is_done(p), p


def test_state_backup_rotation(tmp_path):
    ck = Checkpointer(str(tmp_path / "ckpt5"))
    assert ck.backup_state() is None  # no state yet
    ck.mark_done("row_rules")
    paths = [ck.backup_state(keep=2) for _ in range(4)]
    assert all(p for p in paths)
    import glob

    left = sorted(glob.glob(str(tmp_path / "ckpt5" / "_state.bak*.json")))
    assert len(left) == 2 and left[-1] == paths[-1]


def test_iceberg_snapshot_helper_degrades_gracefully(spark):
    """No Iceberg runtime in this sandbox: the helper must return None
    (not raise) so callers fall back to snapshot_of()."""
    from automatic_data_validator_spark.state import iceberg_snapshot_id

    assert iceberg_snapshot_id(spark, "nonexistent.table") is None
