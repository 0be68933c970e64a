"""The engine's one parquet writer (``sources.parquet_writer``).

Every parquet file the engine writes (outputs, checkpoints, state
stores, baselines) carries zstd column chunks, read off the parquet
footers. A state written before, in Spark's default codec, keeps
working: the next increment over it gives the results of an all-zstd
history. Spark's own default stays untouched for a caller's writes,
and no package code builds a ``DataFrameWriter`` outside the writer.
"""

from __future__ import annotations

import ast
import math
import pathlib
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

from automatic_data_validator_spark import drift, sources
from automatic_data_validator_spark.incremental import validate_incremental
from automatic_data_validator_spark.pipeline import emit_pipeline
from automatic_data_validator_spark.synth import make_documents
from automatic_data_validator_spark.validate import run_validation

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "automatic_data_validator_spark"
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _codecs(path) -> Counter:
    """Column-chunk codecs of every parquet data file under ``path``
    (hidden ``_``/``.`` entries skipped, as Spark's reader does)."""
    root = pathlib.Path(path)
    found = Counter()
    for f in root.rglob("*.parquet"):
        if any(p.startswith(("_", ".")) for p in f.relative_to(root).parts):
            continue
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                found[rg.column(j).compression] += 1
    return found


def _assert_zstd(path):
    codecs = _codecs(path)
    assert sum(codecs.values()) > 0, path  # an empty walk must not pass
    assert set(codecs) == {"ZSTD"}, (path, codecs)


def test_engine_outputs_checkpoints_stores_and_baselines_are_zstd(
    spark, docs, catalog, tmp_path
):
    ckpt = tmp_path / "ckpt"
    res = run_validation(spark, docs, catalog=catalog, checkpoint_dir=str(ckpt))
    # Checkpointer.write: every phase's verdicts/violations and metrics
    assert len(list(ckpt.rglob("*.parquet"))) >= 3
    _assert_zstd(ckpt)

    out = tmp_path / "out"
    sources.write_outputs_parallel(
        {"violations": res.violations, "verdicts": res.verdicts,
         "metrics": res.metrics}, str(out))
    for name in ("violations", "verdicts", "metrics"):
        _assert_zstd(out / name)

    sources.write_sorted_table(docs.select("doc_id"), str(tmp_path / "sorted"),
                               "doc_id", num_files=2)
    _assert_zstd(tmp_path / "sorted")

    sketches = drift.sketch_columns(drift.document_signals(docs),
                                    ["n_spans", "text_chars"])
    drift.save_baseline(sketches, spark, str(tmp_path / "baseline"))
    _assert_zstd(tmp_path / "baseline")
    assert set(drift.load_baseline(spark, str(tmp_path / "baseline"))) == set(sketches)

    corpus, state = str(tmp_path / "docs"), tmp_path / "state"
    make_documents(spark, 1000, n_media=100, seed=3, num_partitions=2).write.parquet(corpus)
    validate_incremental(spark, corpus, str(state))
    for store in ("verdicts", "violations", "lineage", "key_index", "metrics"):
        _assert_zstd(state / store)


def test_user_writes_keep_spark_default_codec(spark, tmp_path):
    """The codec is set per engine write, never on the session."""
    default = spark.conf.get("spark.sql.parquet.compression.codec")
    assert default == "snappy"
    spark.range(10).write.parquet(str(tmp_path / "mine"))
    assert set(_codecs(tmp_path / "mine")) == {"SNAPPY"}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_increment_over_default_codec_state_equals_all_zstd(
    spark, catalog, tmp_path, monkeypatch
):
    """A bootstrap stored in Spark's default codec (state written
    before the zstd writer), then an increment through the zstd writer:
    one store holds both codecs and the increment's violations,
    verdicts and metrics equal those over an all-zstd history."""
    corpus = str(tmp_path / "docs")
    mixed, pure = tmp_path / "mixed", tmp_path / "pure"
    make_documents(spark, 3000, n_media=500, seed=11, num_partitions=3).write.parquet(corpus)

    default = spark.conf.get("spark.sql.parquet.compression.codec")
    zstd_writer = sources.parquet_writer
    with monkeypatch.context() as m:
        # the same writer with Spark's default codec, in every module
        # that bound it at import
        for name, mod in list(sys.modules.items()):
            if (name.startswith("automatic_data_validator_spark.")
                    and getattr(mod, "parquet_writer", None) is zstd_writer):
                m.setattr(mod, "parquet_writer",
                          lambda *a, **k: zstd_writer(*a, **k).option(
                              "compression", default))
        validate_incremental(spark, corpus, str(mixed), catalog=catalog)
    assert set(_codecs(mixed / "verdicts")) == {default.upper()}
    validate_incremental(spark, corpus, str(pure), catalog=catalog)

    make_documents(spark, 800, n_media=500, seed=12, num_partitions=2).write.mode(
        "append").parquet(corpus)
    got = validate_incremental(spark, corpus, str(mixed), catalog=catalog)
    want = validate_incremental(spark, corpus, str(pure), catalog=catalog)
    assert got.increment == want.increment == 1
    assert set(_codecs(mixed / "verdicts")) == {default.upper(), "ZSTD"}
    assert set(_codecs(mixed / "key_index")) == {default.upper(), "ZSTD"}

    assert _rows(got.violations) == _rows(want.violations)
    assert _rows(got.verdicts) == _rows(want.verdicts)
    got_m = {(r["column"], r["metric"]): r["value"] for r in got.metrics.collect()}
    want_m = {(r["column"], r["metric"]): r["value"] for r in want.metrics.collect()}
    assert set(got_m) == set(want_m) and want_m
    for k, v in want_m.items():
        if v is None or (isinstance(v, float) and math.isnan(v)):
            assert got_m[k] is None or math.isnan(got_m[k]), k
        else:
            assert got_m[k] == pytest.approx(v, rel=1e-9, abs=1e-9), k


def _writer_uses(tree: ast.AST) -> list[str]:
    """Scopes holding a ``DataFrameWriter`` use: an attribute ``.write``
    that is not itself called (``f.write(...)``, ``ckpt.write(...)``
    and ``writeStream`` are other things)."""
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope + [child.name] if isinstance(child, _DEFS) else scope
            if (isinstance(child, ast.Attribute) and child.attr == "write"
                    and id(child) not in called):
                found.append(".".join(inner) or "<module>")
            visit(child, inner)

    visit(tree, [])
    return found


def test_no_dataframe_writer_outside_parquet_writer():
    uses = []
    for path in sorted(PACKAGE.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        uses += [f"{path.stem}.{s}" for s in _writer_uses(tree)]
    # the writer itself is found, so the walk is not vacuous
    assert uses == ["sources.parquet_writer"], uses
    # the emitted pipeline runner writes through the same writer
    assert _writer_uses(ast.parse(emit_pipeline([]))) == []
