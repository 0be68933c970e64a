"""The state commit protocol: versioned write-once manifests over any
Hadoop filesystem.

An increment (validation or near-dup), a compaction and an expiry each
write store data and then publish it with one ``manifest.<n>.json``;
readers follow the newest manifest that parses. These tests inject a
failure at every write and commit point and check that the next call
matches an uncrashed history, run every state entry point on a
``file://`` URI, continue a state dir written in the unversioned format, and
lint the state modules for direct filesystem calls.
"""

from __future__ import annotations

import ast
import itertools
import json
import math
import os
import pathlib
import shutil

import pandas as pd
import pytest
from fixtures import grid_sketch
from pyspark.sql import functions as F

from automatic_data_validator_spark import dedup as D
from automatic_data_validator_spark import incremental as I
from automatic_data_validator_spark.incremental import (
    compact_state,
    expire_increments,
    history_report,
    rebase_after_compaction,
    validate_incremental,
)
from automatic_data_validator_spark.state import Checkpointer

PACKAGE = pathlib.Path(I.__file__).resolve().parent
LEGACY = os.path.join(os.path.dirname(__file__), "golden", "legacy_state")


def _append(spark, corpus, rows):
    spark.createDataFrame(rows, "doc_id string, value int").coalesce(1).write.mode(
        "append").parquet(corpus)


def _summary(res) -> dict:
    """What an increment's result must reproduce: per-rule totals, the
    violation multiset and the metrics."""
    totals = {
        r["rule_id"]: (int(r["rc"]), int(r["vc"]))
        for r in res.verdicts.groupBy("rule_id").agg(
            F.sum("row_count").alias("rc"), F.sum("violation_count").alias("vc")
        ).collect()
    }
    viol = sorted((r["doc_id"], r["rule_id"]) for r in res.violations.collect())
    metrics = {}
    if res.metrics is not None:
        for m in res.metrics.collect():
            v = m["value"]
            metrics[(m["column"], m["metric"])] = (
                None if v is None or (isinstance(v, float) and math.isnan(v))
                else round(v, 9)
            )
    return {"totals": totals, "violations": viol, "metrics": metrics}


def _crash_at_write(monkeypatch, k: int) -> None:
    """Make the k-th store write of the incremental module raise right
    after its files land (the increment's concurrent writes count in
    whatever order they reach the writer)."""
    calls = itertools.count(1)
    real = I.parquet_writer

    class Crashing:
        def __init__(self, writer):
            self.writer = writer

        def parquet(self, path):
            self.writer.parquet(path)
            if next(calls) == k:
                raise RuntimeError(f"injected crash at store write {k}")

    monkeypatch.setattr(
        I, "parquet_writer", lambda *a, **kw: Crashing(real(*a, **kw))
    )


def _manifests(state: str, name: str = "manifest") -> list[str]:
    return sorted(
        f for f in os.listdir(state)
        if f.startswith(f"{name}.") and f.endswith(".json")
    )


_VALIDATE = dict(
    rule_set=[], with_profile=True,
    drift_baseline={"value": grid_sketch([float(v) for v in range(10)])},
)


def test_increment_crash_at_each_store_write_matches_uncrashed(
    spark, tmp_path, monkeypatch
):
    """An increment writes seven stores (partials, sketches, verdicts,
    violations, lineage, key_index, metrics). A failure after any one
    of them lands leaves the bootstrap's manifest in force; the retry
    must equal an uncrashed increment — the crashed attempt's key_index
    partition must not count the delta's keys against themselves."""
    corpus, base = str(tmp_path / "docs"), str(tmp_path / "base")
    _append(spark, corpus, [("a", 1), ("b", 2)])
    validate_incremental(spark, corpus, base, **_VALIDATE)
    _append(spark, corpus, [("b", 3), ("c", 4), ("c", 5)])

    def attempt(name: str):
        shutil.copytree(base, tmp_path / name)
        return validate_incremental(spark, corpus, str(tmp_path / name),
                                    **_VALIDATE)

    want = _summary(attempt("ref"))
    assert want["totals"]["unique_doc_id"][1] == 4  # b promoted, c in-batch

    writes = 7
    for k in range(1, writes + 1):
        with monkeypatch.context() as m:
            _crash_at_write(m, k)
            with pytest.raises(RuntimeError, match="injected crash"):
                attempt(f"crash{k}")
        got = validate_incremental(spark, corpus, str(tmp_path / f"crash{k}"),
                                   **_VALIDATE)
        assert got.increment == 1, k
        assert _summary(got) == want, k
    # one more write would not have crashed: seven is every store
    with monkeypatch.context() as m:
        _crash_at_write(m, writes + 1)
        assert _summary(attempt("nocrash")) == want


def _nd_append(spark, corpus, rows):
    spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).coalesce(
        1).write.mode("append").parquet(corpus)


_BODY = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _pairs(res) -> list:
    return sorted((r["id_a"], r["id_b"]) for r in res.pairs.collect())


def test_neardup_crash_at_each_store_write_matches_uncrashed(
    spark, tmp_path, monkeypatch
):
    """incremental_neardup writes two stores (banded, pairs); a failure
    after either leaves the previous manifest in force, and the retry
    pairs the delta exactly as an uncrashed increment does — the
    crashed attempt's banded partition must not pair the delta with
    its own signatures."""
    corpus, base = str(tmp_path / "docs"), str(tmp_path / "base")
    _nd_append(spark, corpus, [(0, _BODY + " x0"), (1, "unrelated words here")])
    D.incremental_neardup(spark, corpus, base, "doc_id", "text")
    _nd_append(spark, corpus, [(2, _BODY + " x1"), (3, "other unrelated text")])

    def attempt(name: str):
        shutil.copytree(base, tmp_path / name)
        return D.incremental_neardup(spark, corpus, str(tmp_path / name),
                                     "doc_id", "text")

    want = attempt("ref")
    assert _pairs(want) == [(0, 2)]
    want_drop = sorted(r["doc_id"] for r in want.drop_list.collect())
    for k in (1, 2):
        with monkeypatch.context() as m:
            _crash_at_write(m, k)
            with pytest.raises(RuntimeError, match="injected crash"):
                attempt(f"crash{k}")
        got = D.incremental_neardup(spark, corpus, str(tmp_path / f"crash{k}"),
                                    "doc_id", "text")
        assert got.increment == 1 and _pairs(got) == _pairs(want), k
        assert [(x["id_a"], x["id_b"]) for x in got.new_pairs.collect()] == [
            (0, 2)], k
        assert sorted(r["doc_id"] for r in got.drop_list.collect()) == want_drop


def _three_increments(spark, root):
    corpus, state = str(root / "docs"), str(root / "state")
    for rows in ([("a", 1), ("b", 2)], [("b", 3), ("c", 4)], [("d", 5)]):
        _append(spark, corpus, rows)
        validate_incremental(spark, corpus, state, **_VALIDATE)
    return corpus, state


def _live_dirs(state: str) -> list[str]:
    return sorted(d for d in os.listdir(state)
                  if os.path.isdir(os.path.join(state, d)))


def _crash(*a, **kw):
    raise RuntimeError("injected crash")


# where a rewrite's commit can fail: before the manifest is written
# (``_commit``), or after it, before the superseded generations are
# deleted (``fsio.delete``; rewrites delete nothing else)
CRASH_POINTS = [(I, "_commit"), (I.fsio, "delete")]


@pytest.mark.parametrize("crash_point", CRASH_POINTS, ids=["commit", "delete"])
def test_compaction_crash_matches_uncrashed(spark, tmp_path, monkeypatch,
                                            crash_point):
    """compact_state writes a new generation of each store, commits them
    in one manifest, then deletes the old generations. A failure before
    the commit leaves the old state in force; one after it leaves the
    new state plus garbage. Either way the history, the next increment
    and a repeated compaction equal an uncrashed run, and the garbage
    is gone after the next commit."""
    ref_corpus, ref_state = _three_increments(spark, tmp_path / "ref")
    compact_state(spark, ref_state)
    corpus, state = _three_increments(spark, tmp_path / "run")
    before = [tuple(r) for r in history_report(spark, state).collect()]
    with monkeypatch.context() as m:
        m.setattr(*crash_point, _crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_state(spark, state)
    assert [tuple(r) for r in history_report(spark, state).collect()] == before
    if crash_point[1] == "_commit":
        compact_state(spark, state)  # the retry rewrites the same generations
    for c, s in ((ref_corpus, ref_state), (corpus, state)):
        _append(spark, c, [("a", 6), ("e", 7)])
    want = validate_incremental(spark, ref_corpus, ref_state, **_VALIDATE)
    got = validate_incremental(spark, corpus, state, **_VALIDATE)
    assert _summary(got) == _summary(want)
    assert [tuple(r) for r in history_report(spark, state).collect()] == [
        tuple(r) for r in history_report(spark, ref_state).collect()]
    # only the generations the manifest names are left
    assert _live_dirs(state) == _live_dirs(ref_state)
    assert len(_manifests(state)) <= 2


def test_torn_manifest_is_skipped_and_does_not_block_commit(spark, tmp_path):
    """A manifest whose write was cut short is not read, and the next
    commit takes the number after it; at most two manifests stay."""
    corpus, state = str(tmp_path / "docs"), str(tmp_path / "state")
    _append(spark, corpus, [("a", 1)])
    validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)
    _append(spark, corpus, [("a", 2)])
    validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)
    assert _manifests(state) == ["manifest.1.json", "manifest.2.json"]
    with open(os.path.join(state, "manifest.3.json"), "w") as fh:
        fh.write('{"files": ["file:///cut')
    r = validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)
    assert r.increment == 1 and r.n_delta_files == 0
    _append(spark, corpus, [("a", 3)])
    r = validate_incremental(spark, corpus, state, rule_set=[], with_profile=False)
    assert r.increment == 2
    assert _summary(r)["violations"] == [("a", "unique_doc_id")] * 3
    assert _manifests(state) == ["manifest.2.json", "manifest.4.json"]


def test_legacy_state_dir_continues(spark, tmp_path):
    """A state dir written in the unversioned format (``manifest.json``,
    stores at ``<store>/increment=<k>``, a flat ``metrics`` store, and
    a crashed increment-2 attempt's key_index partition holding key
    ``z``) reads as manifest version 0. The fixture's inventory names
    the corpus where it was written, so the copy is re-pointed with a
    verified rebase; the next increment then promotes a cross-increment
    duplicate of ``a`` and keeps ``z`` unique. An unversioned
    ``<store>.compact_bak`` still refuses."""
    corpus, state = str(tmp_path / "docs"), str(tmp_path / "state")
    shutil.copytree(os.path.join(LEGACY, "docs"), corpus)
    shutil.copytree(os.path.join(LEGACY, "state"), state)

    hist = {(r["increment"], r["rule_id"]): r["violation_count"]
            for r in history_report(spark, state).collect()}
    assert hist == {(0, "__all__"): 0, (0, "unique_doc_id"): 0,
                    (1, "__all__"): 2, (1, "unique_doc_id"): 2}
    with pytest.raises(ValueError, match="append-only"):
        validate_incremental(spark, corpus, state, rule_set=[], with_profile=True)
    assert rebase_after_compaction(spark, corpus, state) == 2
    # nothing appended: the stored state, metrics from the flat store
    r = validate_incremental(spark, corpus, state, rule_set=[], with_profile=True)
    assert r.increment == 1 and _summary(r)["metrics"][("value", "max")] == 6

    _append(spark, corpus, [("a", 7), ("z", 8)])
    r = validate_incremental(spark, corpus, state, rule_set=[], with_profile=True)
    assert r.increment == 2 and r.delta_rows == 2
    got = _summary(r)
    assert got["violations"] == [("a", "unique_doc_id")] * 2 + [
        ("e", "unique_doc_id")] * 2
    assert got["metrics"][("value", "non_null_count")] == 8
    assert got["metrics"][("doc_id", "distinct_count")] == 6
    # the flat metrics store was superseded and deleted
    assert not os.path.exists(os.path.join(state, "metrics"))

    crashed = tmp_path / "crashed"
    shutil.copytree(os.path.join(LEGACY, "state"), crashed)
    os.makedirs(crashed / "verdicts.compact_bak")
    with pytest.raises(ValueError, match="crashed compaction"):
        history_report(spark, str(crashed))


def test_file_uri_validation_state(spark, tmp_path, monkeypatch):
    """A ``file://`` state_dir behaves as a plain path: a key in two
    increments gives 2 unique_doc_id violations, compaction and expiry
    commit through it, and nothing lands under the working directory."""
    monkeypatch.chdir(tmp_path)
    corpus = str(tmp_path / "docs")
    state = (tmp_path / "state").as_uri()
    for rows in ([("a", 1), ("b", 2)], [("b", 3)], [("c", 4)]):
        _append(spark, corpus, rows)
        r = validate_incremental(spark, corpus, state, rule_set=[],
                                 with_profile=False)
    assert _summary(r)["totals"]["unique_doc_id"] == (4, 2)

    report = compact_state(spark, state)
    assert report["verdicts"][1] <= 3
    rep = expire_increments(spark, state, keep_last=1)
    assert rep["expired_through"] == 1 and rep["violations"] == (2, 0)
    total = {(x["increment"], x["rule_id"]): x["violation_count"]
             for x in history_report(spark, state).collect()}
    assert total[(-1, "unique_doc_id")] == 2
    assert not any(d.startswith("file:") for d in os.listdir(tmp_path))


def test_file_uri_neardup_state(spark, tmp_path, monkeypatch):
    """incremental_neardup on a ``file://`` state_dir pairs a new doc
    with one signed in an earlier increment."""
    monkeypatch.chdir(tmp_path)
    corpus, state = str(tmp_path / "docs"), (tmp_path / "nd").as_uri()
    _nd_append(spark, corpus, [(0, _BODY + " x0"), (1, "unrelated words here")])
    D.incremental_neardup(spark, corpus, state, "doc_id", "text")
    _nd_append(spark, corpus, [(2, _BODY + " x1")])
    r = D.incremental_neardup(spark, corpus, state, "doc_id", "text")
    assert r.increment == 1
    assert [(x["id_a"], x["id_b"]) for x in r.new_pairs.collect()] == [(0, 2)]
    assert _manifests(str(tmp_path / "nd"), "neardup_manifest") == [
        "neardup_manifest.1.json", "neardup_manifest.2.json"]
    assert not any(d.startswith("file:") for d in os.listdir(tmp_path))


def test_file_uri_checkpoint(spark, docs, tmp_path, monkeypatch):
    """A ``file://`` checkpoint root keeps ``_state.json`` under that
    root — not under ``./file:`` in the working directory — and a
    re-run resumes from it."""
    from automatic_data_validator_spark.validate import run_validation

    monkeypatch.chdir(tmp_path)
    root = tmp_path / "ckpt"
    ck = Checkpointer(root.as_uri())
    ck.mark_done("row_rules", duration_s=1.0)
    assert json.loads((root / "_state.json").read_text())["completed"] == [
        "row_rules"]
    assert ck.backup_state() is not None

    run_root = (tmp_path / "run").as_uri()
    r1 = run_validation(spark, docs, checkpoint_dir=run_root,
                        snapshot_id="snap-uri", with_profile=False)
    n1 = r1.violations.count()
    state = json.loads((tmp_path / "run" / "_state.json").read_text())
    assert "row_rules" in state["completed"]
    r2 = run_validation(spark, docs, checkpoint_dir=run_root,
                        snapshot_id="snap-uri", with_profile=False)
    assert r2.violations.count() == n1
    assert not any(d.startswith("file:") for d in os.listdir(tmp_path))


# ---- lint: only fsio touches the filesystem --------------------------------

STATE_MODULES = ("incremental.py", "state.py", "streaming.py", "dedup.py")
_OS_PATH_QUERIES = {
    "exists", "lexists", "isdir", "isfile", "islink", "ismount", "getsize",
    "getmtime", "getatime", "getctime", "samefile", "realpath",
}
_OS_CALLS = {"rename", "replace", "makedirs", "listdir", "walk", "remove",
             "mkdir", "rmdir", "unlink", "scandir", "utime"}


def filesystem_calls(source: str) -> list[str]:
    """Direct filesystem calls in ``source``: ``os.path`` queries, the
    POSIX mutations and listings of ``os``, any use of ``shutil`` or
    ``glob``, and the builtin ``open``. ``os.path.join`` and other
    string operations are not filesystem calls."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            mods = ([a.name for a in node.names] if isinstance(node, ast.Import)
                    else [node.module or ""])
            found += [f"import {m}" for m in mods if m in ("shutil", "glob")]
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id == "open":
            found.append("open")
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Attribute):
            owner = f.value
            if (isinstance(owner.value, ast.Name) and owner.value.id == "os"
                    and owner.attr == "path" and f.attr in _OS_PATH_QUERIES):
                found.append(f"os.path.{f.attr}")
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            if f.value.id == "os" and f.attr in _OS_CALLS:
                found.append(f"os.{f.attr}")
            elif f.value.id in ("shutil", "glob"):
                found.append(f"{f.value.id}.{f.attr}")
    return found


def test_state_modules_touch_the_filesystem_only_through_fsio():
    offenders = {
        name: calls for name in STATE_MODULES
        if (calls := filesystem_calls((PACKAGE / name).read_text()))
    }
    assert offenders == {}


def test_filesystem_lint_flags_each_call_kind():
    src = """
import glob, os, shutil
open("x")
os.path.exists("x"); os.path.getsize("x"); os.path.join("a", "b")
os.rename("a", "b"); os.replace("a", "b"); os.makedirs("a"); os.listdir("a")
os.walk("a"); os.remove("a"); shutil.rmtree("a"); glob.glob("*")
"""
    assert sorted(filesystem_calls(src)) == sorted([
        "import glob", "import shutil", "open", "os.path.exists",
        "os.path.getsize", "os.rename", "os.replace", "os.makedirs",
        "os.listdir", "os.walk", "os.remove", "shutil.rmtree", "glob.glob",
    ])
