"""The benchmark's four user actions.

Each workload generates its inputs from the seed with ``synth``, builds
any state it needs once, and then serves operations one at a time:

* ``prepare(k)``  untimed; stages operation k (restores state, lands
  nothing yet).
* ``op(k)``       the timed user action.
* ``check(k)``    untimed correctness gate; returns a list of failures.
* ``replay(k)``   traced run only: the same work as calls into each
  layer's public functions, one span each.

``NOTES.md`` says why each workload exists and which end-to-end metric
each layer metric should move.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import functions as F

from automatic_data_validator_spark import dedup, drift, incremental, refcheck, rules
from automatic_data_validator_spark import sources, streaming, synth, validate
from automatic_data_validator_spark.profile import (
    build_partial_profile,
    finalize_partial_profile,
)

DRIFT_COLUMNS = ["n_spans", "text_chars", "n_media_refs"]
ROW_RULES = rules.row_level(validate.DEFAULT_RULES)
NEARDUP_SCHEMA = "doc_id string, text string"


@dataclass(frozen=True)
class Sizes:
    """Input sizes of every workload; ``DEFAULT`` is what the benchmark
    measures, ``TINY`` what the self-test runs."""

    docs: int            # full_validate and incremental_delta corpus
    media: int           # catalog rows
    baseline_docs: int   # drift baseline, generated with another seed
    delta_docs: int      # incremental_delta append
    neardup_docs: int    # neardup_dedup corpus and stream bootstrap
    neardup_pairs: int   # planted pair-docs in that corpus
    batch_docs: int      # stream_neardup micro-batch
    batch_pairs: int     # planted pair-docs per micro-batch
    files: int = 4       # parquet files per generated corpus


DEFAULT = Sizes(docs=40_000, media=10_000, baseline_docs=8_000,
                delta_docs=2_000, neardup_docs=32_000, neardup_pairs=3_200,
                batch_docs=2_000, batch_pairs=200)
TINY = Sizes(docs=20_000, media=2_000, baseline_docs=4_000,
             delta_docs=1_000, neardup_docs=16_000, neardup_pairs=1_600,
             batch_docs=1_000, batch_pairs=100)


@dataclass
class Context:
    spark: object
    work: str            # scratch root of this run, removed at exit
    seed: int
    sizes: Sizes
    tracer: object = None

    def span(self, name: str, op_id: str, **kw):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, op_id, **kw)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _single_file(path: str) -> str:
    parts = [n for n in os.listdir(path) if n.endswith(".parquet")]
    if len(parts) != 1:
        raise RuntimeError(f"expected one parquet file in {path}, got {parts}")
    return os.path.join(path, parts[0])


def _land(src: str, dst_dir: str, name: str) -> None:
    """Land a file atomically: Spark readers skip dot-files, so copy
    under a hidden name and rename."""
    tmp = os.path.join(dst_dir, "." + name)
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(dst_dir, name))


def _rule_counts(viol) -> dict[str, int]:
    return {r["rule_id"]: r["n"] for r in
            viol.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n")).collect()}


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.s = ctx.sizes

    @property
    def docs_per_op(self) -> int:
        raise NotImplementedError

    def out_roots(self) -> list[str]:
        """Directories whose new files count as the op's output."""
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, k: int) -> None:
        pass

    def op(self, k: int, op_id: str) -> None:
        raise NotImplementedError

    def check(self, k: int) -> list[str]:
        raise NotImplementedError

    def replay(self, k: int, op_id: str) -> "dict | None":
        """Returns counts the spans cannot carry, if any."""
        return None

    def close(self) -> None:
        pass


class FullValidate(Workload):
    """run_validation with profile, catalog and drift baseline, then the
    parallel write of violations, verdicts and metrics."""

    name = "full_validate"

    @property
    def docs_per_op(self) -> int:
        return self.s.docs

    def out_roots(self) -> list[str]:
        return [self.ctx.path("fv", "out")]

    def setup(self) -> None:
        sp, s, seed, p = self.spark, self.s, self.ctx.seed, self.ctx.path
        synth.make_documents(sp, s.docs, n_media=s.media, seed=seed,
                             num_partitions=s.files).write.parquet(p("fv", "docs"))
        synth.make_media_catalog(sp, s.media, seed=seed).write.parquet(
            p("fv", "catalog"))
        base = synth.make_documents(sp, s.baseline_docs, n_media=s.media,
                                    seed=seed + 1_000_003)
        drift.save_baseline(
            drift.sketch_columns(drift.document_signals(base), DRIFT_COLUMNS),
            sp, p("fv", "baseline"))
        self.expected = duckdb_rule_counts(p("fv", "docs"), p("fv", "catalog"))
        os.makedirs(p("fv", "out"))

    def _inputs(self):
        read = self.spark.read.parquet
        return read(self.ctx.path("fv", "docs")), read(self.ctx.path("fv", "catalog"))

    def _out(self, k: int) -> str:
        return self.ctx.path("fv", "out", f"op{k}")

    def prepare(self, k: int) -> None:
        shutil.rmtree(self._out(k - 1), ignore_errors=True)

    def op(self, k: int, op_id: str) -> None:
        docs, cat = self._inputs()
        with self.ctx.span("validate.run_validation", op_id):
            res = validate.run_validation(
                self.spark, docs, catalog=cat, with_profile=True,
                drift_baseline=self.ctx.path("fv", "baseline"),
                drift_signals=drift.document_signals)
        with self.ctx.span("sources.write_outputs_parallel", op_id):
            sources.write_outputs_parallel(
                {"violations": res.violations, "verdicts": res.verdicts,
                 "metrics": res.metrics}, self._out(k))

    def check(self, k: int) -> list[str]:
        read = self.spark.read.parquet
        viol = read(os.path.join(self._out(k), "violations"))
        per_rule = {
            r["rule_id"]: r for r in viol.groupBy("rule_id").agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("doc_id", "detail").alias("doc_refs"),
                F.countDistinct("partition_id", "doc_id").alias("part_docs"),
            ).collect()
        }
        verdict_sums = {
            r["rule_id"]: r["v"] for r in
            read(os.path.join(self._out(k), "verdicts")).groupBy("rule_id")
            .agg(F.sum("violation_count").alias("v")).collect()
        }
        errors = []
        for rule, want in self.expected.items():
            row = per_rule.get(rule)
            got = 0 if row is None else (
                row["doc_refs"] if rule == "referential_media_ref" else row["rows"])
            if got != want:
                errors.append(f"{rule}: {got} violations, DuckDB says {want}")
        for rule, v in verdict_sums.items():
            row = per_rule.get(rule)
            rows = 0 if row is None else (
                row["part_docs"] if rule == "referential_media_ref" else row["rows"])
            if v != rows:
                errors.append(f"{rule}: verdicts sum to {v}, {rows} violation rows")
        missing = set(self.expected) - set(verdict_sums)
        if missing:
            errors.append(f"no verdicts for {sorted(missing)}")
        return errors

    def replay(self, k: int, op_id: str) -> None:
        """The run_validation phases one at a time, each forced."""
        sp, span = self.spark, self.ctx.span
        docs, cat = self._inputs()
        preds = [(r.rule_id, rules.compile_rule(r, docs)) for r in ROW_RULES]
        plan = build_partial_profile(docs, detect_formats=False)
        with span("rules.per_partition_rule_aggregate", op_id):
            plain = rules.per_partition_rule_aggregate(docs, preds).persist()
            plain.count()
        with span("rules.violation_rows", op_id):
            rules.violation_rows(docs, preds).write.format("noop").mode(
                "overwrite").save()
        with span("profile.fused_aggregate", op_id):
            fused = rules.per_partition_rule_aggregate(
                docs, preds, plan.exprs).persist()
            fused.count()
        with span("profile.finalize_partial_profile", op_id):
            finalize_partial_profile(fused, plan)
        plain.unpersist()
        fused.unpersist()
        with span("dedup.uniqueness_check", op_id, task_skew=True):
            verdicts, viol = dedup.uniqueness_check(docs)
            verdicts.collect()
            viol.count()
        viol.unpersist()
        with span("refcheck.referential_check", op_id):
            verdicts, viol = refcheck.referential_check(docs, cat)
            verdicts.collect()
            viol.count()
        with span("drift.drift_report", op_id):
            drift.drift_report(
                drift.document_signals(docs),
                drift.load_baseline(sp, self.ctx.path("fv", "baseline")),
                DRIFT_COLUMNS)
        sp.catalog.clearCache()


def duckdb_rule_counts(docs_dir: str, catalog_dir: str) -> dict[str, int]:
    """Per-rule violation counts of the default rules, computed by
    DuckDB over the same parquet. Referential counts distinct
    (doc_id, dangling media_ref) pairs."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(
            f"CREATE VIEW d AS SELECT doc_id, spans FROM "
            f"read_parquet('{docs_dir}/*.parquet')")
        con.execute(
            f"CREATE VIEW c AS SELECT media_ref FROM "
            f"read_parquet('{catalog_dir}/*.parquet')")
        row = con.execute("""
            WITH o AS (
              SELECT doc_id, spans,
                     list_transform(spans, x -> x."offset") AS offs
              FROM d)
            SELECT
              count(*) FILTER (WHERE doc_id IS NULL),
              count(*) FILTER (WHERE NOT coalesce(
                  spans IS NOT NULL AND len(spans) > 0, false)),
              count(*) FILTER (WHERE NOT coalesce(
                  len(list_filter(offs, v -> v IS NOT NULL)) = len(offs)
                  AND offs = list_sort(offs)
                  AND len(list_distinct(offs)) = len(offs), false)),
              count(*) FILTER (WHERE NOT coalesce(len(list_filter(spans,
                  x -> NOT ((x.kind = 'text' AND x.text IS NOT NULL
                             AND x.media_ref IS NULL)
                            OR (x.kind <> 'text' AND x.media_ref IS NOT NULL
                                AND x.text IS NULL)))) = 0, false))
            FROM o""").fetchone()
        dup_rows = con.execute("""
            SELECT coalesce(sum(n), 0) FROM (
              SELECT count(*) AS n FROM d GROUP BY doc_id HAVING count(*) > 1)
            """).fetchone()[0]
        dangling = con.execute("""
            SELECT count(*) FROM (
              SELECT DISTINCT doc_id, r FROM (
                SELECT doc_id, unnest(list_transform(spans, x -> x.media_ref)) AS r
                FROM d) WHERE r IS NOT NULL) t
            WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.media_ref = t.r)
            """).fetchone()[0]
    finally:
        con.close()
    names = [r.rule_id for r in ROW_RULES]
    counts = dict(zip(names, (int(v) for v in row)))
    counts["unique_doc_id"] = int(dup_rows)
    counts["referential_media_ref"] = int(dangling)
    return counts


class IncrementalDelta(Workload):
    """Land a fresh-id delta file and validate only it against state
    bootstrapped from the corpus. State is restored before every op, so
    each op sees the same state size."""

    name = "incremental_delta"

    @property
    def docs_per_op(self) -> int:
        return self.s.delta_docs

    def out_roots(self) -> list[str]:
        return [self.ctx.path("inc", "state")]

    def setup(self) -> None:
        sp, s, seed, p = self.spark, self.s, self.ctx.seed, self.ctx.path
        synth.make_documents(sp, s.docs, n_media=s.media, seed=seed,
                             num_partitions=s.files).write.parquet(p("inc", "docs"))
        synth.make_media_catalog(sp, s.media, seed=seed).write.parquet(
            p("inc", "catalog"))
        delta = synth.make_documents(sp, s.delta_docs, n_media=s.media,
                                     seed=seed + 2_000_003, num_partitions=1)
        delta.select(F.concat(F.lit("delta-"), "doc_id").alias("doc_id"),
                     "spans").write.parquet(p("inc", "delta"))
        self.delta_file = _single_file(p("inc", "delta"))
        # expected merged totals: one full run over corpus + delta
        both = sp.read.parquet(p("inc", "docs"), p("inc", "delta"))
        res = validate.run_validation(sp, both, catalog=self._catalog())
        self.expected = _rule_counts(res.violations)
        incremental.validate_incremental(
            sp, p("inc", "docs"), p("inc", "state"), catalog=self._catalog())
        shutil.copytree(p("inc", "state"), p("inc", "pristine"))

    def _catalog(self):
        return self.spark.read.parquet(self.ctx.path("inc", "catalog"))

    def prepare(self, k: int) -> None:
        p = self.ctx.path
        landed = p("inc", "docs", "part-delta.parquet")
        if os.path.exists(landed):
            os.remove(landed)
        shutil.rmtree(p("inc", "state"))
        shutil.copytree(p("inc", "pristine"), p("inc", "state"))

    def op(self, k: int, op_id: str) -> None:
        p = self.ctx.path
        _land(self.delta_file, p("inc", "docs"), "part-delta.parquet")
        with self.ctx.span("incremental.validate_incremental", op_id):
            self.result = incremental.validate_incremental(
                self.spark, p("inc", "docs"), p("inc", "state"),
                catalog=self._catalog())

    def check(self, k: int) -> list[str]:
        errors = []
        if self.result.delta_rows != self.s.delta_docs:
            errors.append(f"delta_rows {self.result.delta_rows} != "
                          f"{self.s.delta_docs}")
        got = _rule_counts(self.result.violations)
        for rule in sorted(set(got) | set(self.expected)):
            if got.get(rule, 0) != self.expected.get(rule, 0):
                errors.append(f"{rule}: merged {got.get(rule, 0)} violations, "
                              f"full run {self.expected.get(rule, 0)}")
        return errors


class NeardupDedup(Workload):
    """dedup.neardup_dedup over a planted-truth corpus, outputs written
    the way jobs/dedup_job.py writes them."""

    name = "neardup_dedup"

    @property
    def docs_per_op(self) -> int:
        return self.s.neardup_docs

    def out_roots(self) -> list[str]:
        return [self.ctx.path("nd", "out")]

    def setup(self) -> None:
        s = self.s
        synth.make_neardup_corpus(
            self.spark, s.neardup_docs, s.neardup_pairs, seed=self.ctx.seed,
        ).repartition(s.files).write.parquet(self.ctx.path("nd", "corpus"))
        os.makedirs(self.ctx.path("nd", "out"))
        half = s.neardup_pairs // 2
        self.expected = {"pairs": half, "drop_list": half,
                         "kept": s.neardup_docs - half}

    def _corpus(self):
        return self.spark.read.parquet(self.ctx.path("nd", "corpus"))

    def _out(self, k: int) -> str:
        return self.ctx.path("nd", "out", f"op{k}")

    def prepare(self, k: int) -> None:
        shutil.rmtree(self._out(k - 1), ignore_errors=True)

    def op(self, k: int, op_id: str) -> None:
        with self.ctx.span("dedup.neardup_dedup", op_id):
            kept, drop_list, pairs, audit = dedup.neardup_dedup(self._corpus())
        with self.ctx.span("sources.write_outputs_parallel", op_id):
            sources.write_outputs_parallel(
                {"kept": kept, "drop_list": drop_list, "pairs": pairs,
                 "oversize_buckets": audit}, self._out(k))

    def check(self, k: int) -> list[str]:
        errors = []
        for name, want in self.expected.items():
            got = self.spark.read.parquet(os.path.join(self._out(k), name)).count()
            if got != want:
                errors.append(f"{name}: {got}, planted {want}")
        return errors

    def replay(self, k: int, op_id: str) -> dict:
        """Signature, candidates, verify and components, each forced."""
        span, df = self.ctx.span, self._corpus()
        with span("dedup.minhash_signature", op_id):
            df.select(dedup.minhash_signature("text")).write.format(
                "noop").mode("overwrite").save()
        with span("dedup.minhash_lsh_duplicates", op_id):
            cand = dedup.minhash_lsh_duplicates(
                df, "doc_id", "text", num_hashes=16, bands=16,
            ).localCheckpoint(eager=True)
        n_cand = cand.count()
        with span("dedup.ngram_jaccard", op_id):
            verified = (dedup.ngram_jaccard(df, "doc_id", "text", cand)
                        .filter(F.col("jaccard") >= 0.5)
                        .localCheckpoint(eager=True))
        n_verified = verified.count()
        with span("dedup.dedup_keep_representatives", op_id):
            kept, drop_list = dedup.dedup_keep_representatives(
                df, verified.select("id_a", "id_b"))
            kept.write.format("noop").mode("overwrite").save()
            drop_list.count()
        return {"candidates": n_cand, "verified": n_verified}


class StreamNeardup(Workload):
    """streaming.neardup_stream over a parquet landing directory,
    bootstrapped with the near-dup corpus; each op lands one batch file
    and waits for the micro-batch."""

    name = "stream_neardup"

    @property
    def docs_per_op(self) -> int:
        return self.s.batch_docs

    def out_roots(self) -> list[str]:
        p = self.ctx.path
        return [p("st", d) for d in ("corpus", "state", "out", "ckpt")]

    def setup(self) -> None:
        s, p = self.s, self.ctx.path
        synth.make_neardup_corpus(
            self.spark, s.neardup_docs, s.neardup_pairs, seed=self.ctx.seed,
        ).repartition(s.files).write.parquet(p("st", "landing"))
        stream = self.spark.readStream.schema(NEARDUP_SCHEMA).parquet(
            p("st", "landing"))
        self.query = streaming.neardup_stream(
            stream, p("st", "corpus"), p("st", "state"), p("st", "out"),
            p("st", "ckpt"))
        self.query.processAllAvailable()
        boot = self._batch_pairs(0)
        if boot != s.neardup_pairs // 2:
            raise RuntimeError(f"stream bootstrap found {boot} pairs, "
                               f"planted {s.neardup_pairs // 2}")

    def _batch_pairs(self, batch_id: int) -> int:
        pairs = self.spark.read.parquet(self.ctx.path("st", "out", "pairs"))
        return pairs.filter(F.col("batch_id") == batch_id).count()

    def _staged(self, k: int) -> str:
        return self.ctx.path("st", "staged", f"batch{k}")

    def prepare(self, k: int) -> None:
        """Generate batch k: fresh ids, its own word streams, so its only
        near-duplicates are its own planted pairs."""
        s = self.s
        batch = synth.make_neardup_corpus(
            self.spark, s.batch_docs, s.batch_pairs,
            seed=self.ctx.seed * 1_000 + k + 1)
        batch.select(F.concat(F.lit(f"b{k}-"), "doc_id").alias("doc_id"),
                     "text").coalesce(1).write.parquet(self._staged(k))
        if self.ctx.tracer is not None:
            # the replay re-runs this increment against a copy of the
            # state as it was before the batch
            copy = self.ctx.path("st", "state_copy")
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(self.ctx.path("st", "state"), copy)

    def op(self, k: int, op_id: str) -> None:
        src = _single_file(self._staged(k))
        with self.ctx.span("streaming.neardup_stream.batch", op_id):
            os.rename(src, self.ctx.path("st", "landing", f"batch{k}.parquet"))
            self.query.processAllAvailable()

    def check(self, k: int) -> list[str]:
        shutil.rmtree(self._staged(k), ignore_errors=True)
        got, want = self._batch_pairs(k + 1), self.s.batch_pairs // 2
        return [] if got == want else [f"batch {k + 1}: {got} new pairs, "
                                       f"planted {want}"]

    def replay(self, k: int, op_id: str) -> None:
        span, p = self.ctx.span, self.ctx.path
        batch = self.spark.read.parquet(p("st", "landing", f"batch{k}.parquet"))
        with span("dedup.minhash_signature", op_id):
            batch.select(dedup.minhash_signature("text")).write.format(
                "noop").mode("overwrite").save()
        with span("dedup.incremental_neardup", op_id):
            res = dedup.incremental_neardup(
                self.spark, p("st", "corpus"), p("st", "state_copy"),
                skip_drop_list=True)
            res.new_pairs.count()

    def close(self) -> None:
        query = getattr(self, "query", None)  # unset if set-up failed early
        if query is not None:
            query.stop()


WORKLOADS = {w.name: w for w in (FullValidate, IncrementalDelta,
                                 NeardupDedup, StreamNeardup)}
