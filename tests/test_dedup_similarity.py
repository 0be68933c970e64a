"""Dedup families + similarity search vs numpy/pandas oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

import pytest

from oracles import (
    brute_force_topk,
    lsh_band_buckets_columns,
    lsh_oversize_buckets,
    minhash_signature_expr,
)

from automatic_data_validator_spark import dedup as D
from automatic_data_validator_spark import similarity as S


def test_two_phase_duplicate_counts_match_groupby(spark, docs):
    got = {
        r["doc_id"]: r["dup_count"]
        for r in D.duplicate_key_counts(docs, "doc_id").collect()
    }
    oracle = {
        r["doc_id"]: r["count"]
        for r in docs.groupBy("doc_id").count().filter("count > 1").collect()
    }
    assert got == oracle and got  # non-empty by synth construction


def test_hot_prefix_detection(spark, docs):
    hot = D.hot_prefixes(docs, "doc_id", prefix_len=8, sample_fraction=1.0)
    # synth hot keys share prefix "doc-hot-"; plain ids share "doc-0000"
    assert "doc-0000" in hot  # 98% of rows
    # hot doc-hot keys are ~2% of rows -> below default 5% threshold
    lower = D.hot_prefixes(docs, "doc_id", prefix_len=8, sample_fraction=1.0,
                           share_threshold=0.01)
    assert "doc-hot-" in lower


def test_salted_repartition_spreads_hot_keys(spark, docs):
    salted = D.salted_repartition(docs, "doc_id", ["doc-hot-"], prefix_len=8,
                                  salt_buckets=8, num_partitions=8)
    parts = (
        salted.filter(F.col("doc_id").startswith("doc-hot-"))
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert parts > 1  # a single unsalted key would land on one partition


def test_exact_dedup_and_minhash(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",  # exact dup
        "the quick brown fox jumps over the lazy cat",  # near dup
        "completely unrelated text about spark engines and data",
    ]
    pdf = pd.DataFrame({"id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)

    pairs = D.minhash_lsh_duplicates(df, "id", "text", num_hashes=32, bands=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dups always collide
    assert all(3 not in p for p in got)  # unrelated text shouldn't pair

    jac = D.ngram_jaccard(df, "id", "text", pairs).collect()
    jmap = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac}
    assert jmap[(0, 1)] == 1.0
    if (0, 2) in jmap:
        assert 0.0 < jmap[(0, 2)] < 1.0


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.RandomState(42)
    vecs = rng.normal(size=(200, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 1], "embedding": [vecs[0].tolist(), vecs[1].tolist()]})
    )
    got = S.brute_force_topk_arrow(df, queries, k=5).toPandas()

    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in (0, 1):
        expected = list(np.argsort(-sims[q])[:5])
        mine = list(got[got.query_id == q].sort_values("cosine_sim", ascending=False)["neighbor_id"])
        assert mine == expected
        assert mine[0] == q  # self is its own nearest neighbor


def test_uniqueness_matches_groupby_oracle_with_multiplicity(spark, docs):
    """The single-scan uniqueness check must emit exactly one violation
    row per duplicate-key OCCURRENCE (the old attribution-join
    semantics), attributed to real partitions."""
    v, viol = D.uniqueness_check(docs, "doc_id")
    rows = viol.collect()
    viol.unpersist()
    got: dict[str, int] = {}
    for r in rows:
        assert r["rule_id"] == "unique_doc_id" and r["partition_id"] >= 0
        got[r["doc_id"]] = got.get(r["doc_id"], 0) + 1
    oracle = {
        r["doc_id"]: r["count"]
        for r in docs.groupBy("doc_id").count().filter("count > 1").collect()
    }
    assert got == oracle and got
    # verdict totals line up with the violation rows
    assert sum(r["violation_count"] for r in v.collect()) == sum(oracle.values())


def test_uniqueness_check_leaves_no_cache_behind(spark, docs):
    """Round-2 VERDICT wrong-list #1: no internal persist may outlive
    the call. The violation set is a localCheckpoint, so the session's
    cache manager holds no more entries after the call than before —
    an entry there would serve a later check over a path rewritten in
    place the old rows."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    _v, viol = D.uniqueness_check(docs, "doc_id")
    assert viol.count() > 0
    assert cache.numCachedEntries() == before


def test_lsh_bucket_cap_prevents_quadratic_blowup(spark):
    """1k identical docs = one degenerate bucket; with a cap the pair
    set must be empty (not 499,500 rows) and the audit must report the
    dropped buckets."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"id": range(1000), "text": ["same boilerplate text here"] * 1000})
    )
    pairs = D.minhash_lsh_duplicates(
        df, "id", "text", num_hashes=16, bands=4, max_bucket_size=100
    )
    assert pairs.count() == 0
    dropped = lsh_oversize_buckets(
        df, "id", "text", num_hashes=16, bands=4, max_bucket_size=100
    ).collect()
    assert dropped and all(r["n_docs"] == 1000 for r in dropped)
    # uncapped default still pairs them (bucket of 1000 < default cap)
    some = D.minhash_lsh_duplicates(df.limit(50), "id", "text", num_hashes=16, bands=4)
    assert some.count() == 50 * 49 // 2


def test_lsh_rejects_bands_outside_num_hashes(spark):
    """More bands than hashes leaves every band empty, so every doc
    lands in the bucket xxhash64('') and pairs with every other doc;
    such calls must raise instead of returning all-pairs."""
    df = spark.createDataFrame(
        pd.DataFrame({
            "id": range(10),
            "text": [f"unrelated document {i} about topic {i * 7}" for i in range(10)],
        })
    )
    for bands in (32, 17, 0):
        with pytest.raises(ValueError, match="bands"):
            D.minhash_lsh_duplicates(df, "id", "text", num_hashes=16, bands=bands)
    with pytest.raises(ValueError, match="bands"):
        D.neardup_dedup(df, "id", "text", num_hashes=16, bands=32)
    # the boundary is accepted: one hash row per band
    assert D.minhash_lsh_duplicates(
        df, "id", "text", num_hashes=16, bands=16
    ).count() == 0


@pytest.mark.parametrize("num_hashes,bands", [(16, 16), (16, 8), (16, 4)])
def test_band_buckets_equal_column_api_reference(spark, num_hashes, bands):
    """The one-SQL-expression band builder yields exactly the rows of
    the Column-API reference, null and empty texts included: the
    oversize audit publishes these (band, bucket) values."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        None, "", "x", "two words", "MiXeD CaSe ünïcode   spacing\there",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(len(texts)), "text": texts})
    )
    got = D._lsh_band_buckets(df, "id", "text", num_hashes, bands, 3)
    ref = lsh_band_buckets_columns(df, "id", "text", num_hashes, bands, 3)
    assert got.schema == ref.schema
    got_rows = sorted(got.collect())
    assert len(got_rows) == len(texts) * bands
    assert got_rows == sorted(ref.collect())


def test_neardup_dedup_audit_reports_oversize_buckets(spark):
    """A boilerplate block larger than the bucket cap fills the audit:
    its rows equal lsh_oversize_buckets with the same arguments, the
    boilerplate yields no pairs, the planted pairs still verify, and
    the call leaves no entry in the session's cache manager."""
    from automatic_data_validator_spark.synth import make_neardup_corpus

    planted = make_neardup_corpus(spark, 400, 40, seed=11)
    boiler = spark.range(300).select(
        F.format_string("bp-%04d", F.col("id")).alias("doc_id"),
        F.lit("click here to accept cookies and agree to our terms").alias("text"),
    )
    df = planted.unionByName(boiler).localCheckpoint(eager=True)
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cm.numCachedEntries()

    kept, drop, pairs, oversize = D.neardup_dedup(
        df, "doc_id", "text", max_bucket_size=100
    )
    got_over = sorted(oversize.collect())
    got_pairs = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    dropped = {r["doc_id"] for r in drop.collect()}
    n_kept = kept.count()

    want_over = sorted(
        lsh_oversize_buckets(
            df, "doc_id", "text", bands=16, max_bucket_size=100
        ).collect()
    )
    assert len(got_over) == 16 and all(r["n_docs"] == 300 for r in got_over)
    assert got_over == want_over
    assert got_pairs == [
        (f"dd-{2 * k:012d}", f"dd-{2 * k + 1:012d}") for k in range(20)
    ]
    assert dropped == {f"dd-{2 * k + 1:012d}" for k in range(20)}
    assert n_kept == 700 - 20
    assert cm.numCachedEntries() == cached_before


def test_minhash_single_pass_matches_per_permutation(spark):
    """One-aggregate minhash must equal the per-permutation formulation
    on all shapes incl. null/empty/short texts."""
    texts = ["the quick brown fox jumps over dogs", "a b", "", None,
             "lorem ipsum dolor sit amet consectetur adipiscing"]
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(len(texts)), "text": texts}).astype({"text": object})
    )

    def minhash_old(text_col, num_hashes=16, shingle_k=3):
        sh = D.word_shingles(text_col, shingle_k)

        def perm_min(i):
            return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(i))))

        return F.array(*[perm_min(i) for i in range(num_hashes)])

    rows = df.select(
        "id",
        D.minhash_signature("text").alias("a"),
        minhash_old("text").alias("b"),
    ).collect()
    for r in rows:
        assert r["a"] == r["b"], (r["id"], r["a"], r["b"])


def test_minhash_kernel_equals_expr_oracle(spark):
    """The Arrow/numpy minhash fold must be BIT-IDENTICAL to the pure
    Catalyst expression oracle (round-3 directive #2) — including null,
    empty, single-word, short-of-k, unicode, and whitespace-heavy
    texts."""
    texts = [
        None, "", " ", "one", "one two", "one two three",
        "the quick brown fox jumps over the lazy dog",
        "Ünïcode tëxt with  double  spaces\tand tabs",
        "repeat repeat repeat repeat repeat",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(len(texts)), "text": texts})
    )
    rows = df.select(
        "id",
        D.minhash_signature("text", num_hashes=16).alias("a"),
        minhash_signature_expr("text", num_hashes=16).alias("e"),
        D.minhash_signature("text", num_hashes=24, shingle_k=2).alias("a2"),
        minhash_signature_expr("text", num_hashes=24, shingle_k=2).alias("e2"),
    ).collect()
    for r in rows:
        assert r["a"] == r["e"], (r["id"], r["a"], r["e"])
        assert r["a2"] == r["e2"], (r["id"], r["a2"], r["e2"])


def test_arrow_signatures_survive_hof_heavy_session(spark, docs):
    """Regression pin for a Spark 4.1 quirk: after unrelated HOF-heavy
    plans have been analyzed/cached in the session (the docs fixture),
    Python-UDF extraction intermittently fails for UDFs whose INPUT
    expression carries nested/captured lambda variables ("Cannot
    generate code for expression"). The arrow signature paths use
    flat/trivial inputs by design — this test runs them exactly in the
    poisoned ordering that used to crash."""
    import pandas as pd

    docs.count()  # ensure the nested-lambda synth plan is live + cached
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(4), "text": [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy cat",
            "completely unrelated text about engines",
        ]})
    )
    sigs = df.select(D.minhash_signature("text", 32).alias("s")).collect()
    assert all(len(r["s"]) == 32 for r in sigs)
    pairs = D.minhash_lsh_duplicates(df, "id", "text", num_hashes=32, bands=16)
    assert (0, 1) in {(r["id_a"], r["id_b"]) for r in pairs.collect()}


def test_lsh_no_self_pairs_for_duplicate_ids(spark):
    """Round-3 review finding: a duplicated id landing twice in one
    bucket must not emit the self-pair (id, id) — the in-bucket
    expansion keeps the old join's strict id_a < id_b."""
    import pandas as pd

    texts = ["the quick brown fox jumps over the lazy dog"] * 3
    df = spark.createDataFrame(
        pd.DataFrame({"id": [7, 7, 9], "text": texts})  # id 7 duplicated
    )
    mh = {(r["id_a"], r["id_b"])
          for r in D.minhash_lsh_duplicates(df, "id", "text",
                                            num_hashes=16, bands=4).collect()}
    assert (7, 7) not in mh and (7, 9) in mh


def test_connected_dup_groups_matches_union_find(spark):
    """Min-label propagation vs a python union-find oracle on an
    adversarial graph: chains (worst-case diameter), a clique, an
    isolated pair, disjoint components."""
    import pandas as pd

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),        # chain of 5
        (10, 11), (10, 12), (11, 12),          # triangle
        (20, 21),                              # isolated pair
        (30, 31), (31, 32), (30, 32), (32, 33) # clique + tail
    ]
    pairs = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"])
    )
    got = {
        r["doc_id"]: r["component"]
        for r in D.connected_dup_groups(pairs).collect()
    }

    # union-find oracle
    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    oracle = {x: find(x) for x in parent}
    assert got == oracle


def test_dedup_keep_representatives_end_to_end(spark):
    """LSH pairs -> components -> drop list: exactly one survivor per
    near-dup group, untouched singletons kept."""
    import pandas as pd

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy dog",
        3: "the quick brown fox jumps over the lazy cat",
        4: "completely unrelated text about spark engines and data",
    }
    df = spark.createDataFrame(
        pd.DataFrame({"id": list(texts), "text": list(texts.values())})
    )
    pairs = D.minhash_lsh_duplicates(df, "id", "text", num_hashes=32, bands=16)
    kept, dropped = D.dedup_keep_representatives(df, pairs, id_col="id")
    kept_ids = {r["id"] for r in kept.collect()}
    assert 1 in kept_ids          # component representative (min id)
    assert 4 in kept_ids          # singleton untouched
    assert 2 not in kept_ids      # exact dup dropped
    drop_ids = {r["doc_id"] for r in dropped.collect()}
    assert 2 in drop_ids and 1 not in drop_ids and 4 not in drop_ids


def test_connected_dup_groups_string_ids(spark):
    """The flagship doc_id is a STRING — min-label must work
    lexicographically."""
    import pandas as pd

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": ["d2", "d1"], "id_b": ["d3", "d2"]})
    )
    comps = D.connected_dup_groups(pairs)
    got = {r["doc_id"]: r["component"] for r in comps.collect()}
    comps.unpersist()
    assert got == {"d1": "d1", "d2": "d1", "d3": "d1"}


def test_hot_prefixes_driver_histogram_bounded(spark, monkeypatch):
    """Round-3 VERDICT hygiene #1: the share threshold applies
    CLUSTER-side, so the driver receives at most floor(1/threshold)
    histogram rows even under near-uniform prefixes — while a genuinely
    hot prefix is still returned."""
    import math

    from automatic_data_validator_spark import config

    uniform = spark.range(4000).select(
        F.format_string("u%07d-doc", "id").alias("doc_id")
    )
    hot = spark.range(1000).select(
        F.format_string("HOTPREFX-%d", "id").alias("doc_id")
    )
    df = uniform.unionByName(hot)

    sizes: list[int] = []
    cls = type(df)  # the concrete (classic) DataFrame class
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    got = D.hot_prefixes(df, "doc_id", prefix_len=8, sample_fraction=1.0)
    assert got == ["HOTPREFX"]
    assert sizes and max(sizes) <= math.floor(1 / config.HOT_PREFIX_SHARE)


def test_connected_components_single_action_per_round(spark, monkeypatch):
    """Round-3 VERDICT hygiene #4: each round materializes via ONE
    checksum aggregate — no join-based changed probe, no .count()
    probes. A triangle converges after one propagation round, so the
    whole call performs exactly two collect-actions."""
    clique = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 10, 20], "id_b": [20, 30, 30]})
    )
    n_collects: list[int] = []
    n_counts: list[int] = []
    cls = type(clique)
    oc, on = cls.collect, cls.count

    def spy_collect(self):
        n_collects.append(1)
        return oc(self)

    def spy_count(self):
        n_counts.append(1)
        return on(self)

    monkeypatch.setattr(cls, "collect", spy_collect)
    monkeypatch.setattr(cls, "count", spy_count)
    # driver_edge_limit=0 forces the ITERATIVE path this test pins
    comps = D.connected_dup_groups(clique, driver_edge_limit=0)
    assert len(n_collects) == 2, n_collects
    assert len(n_counts) == 0
    got = {r["doc_id"]: r["component"] for r in oc(comps)}
    comps.unpersist()
    assert got == {10: 10, 20: 10, 30: 10}


def test_connected_components_driver_path_single_collect(spark, monkeypatch):
    """The driver union-find fallback (r6): a pair set within
    CC_DRIVER_EDGE_LIMIT is solved with exactly ONE collect (the
    limit-probe doubles as the fetch) and no cluster iteration."""
    clique = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 10, 20], "id_b": [20, 30, 30]})
    )
    n_collects: list[int] = []
    cls = type(clique)
    oc = cls.collect

    def spy_collect(self):
        n_collects.append(1)
        return oc(self)

    monkeypatch.setattr(cls, "collect", spy_collect)
    comps = D.connected_dup_groups(clique)
    assert len(n_collects) == 1, n_collects
    got = {r["doc_id"]: r["component"] for r in oc(comps)}
    comps.unpersist()
    assert got == {10: 10, 20: 10, 30: 10}


def test_connected_components_driver_equals_distributed(spark):
    """Driver union-find and iterative min-label propagation agree on
    a randomized graph (chains + cliques + singleton pairs), and the
    over-limit/NULL-id cases fall through to the distributed path."""
    import random

    rng = random.Random(6)
    edges = set()
    base = 0
    for _ in range(20):  # random chains
        ln = rng.randint(2, 5)
        for i in range(ln - 1):
            edges.add((base + i, base + i + 1))
        base += ln
    for _ in range(10):  # random extra edges inside a window
        a = rng.randrange(base)
        b = rng.randrange(base)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        pd.DataFrame(sorted(edges), columns=["id_a", "id_b"])
    )
    drv = D.connected_dup_groups(pairs)
    dist = D.connected_dup_groups(pairs, driver_edge_limit=0)
    got_drv = {(r["doc_id"], r["component"]) for r in drv.collect()}
    got_dist = {(r["doc_id"], r["component"]) for r in dist.collect()}
    drv.unpersist()
    dist.unpersist()
    assert got_drv == got_dist

    # over-limit falls back to the distributed loop (same results)
    small_lim = D.connected_dup_groups(pairs, driver_edge_limit=3)
    got_lim = {(r["doc_id"], r["component"]) for r in small_lim.collect()}
    small_lim.unpersist()
    assert got_lim == got_dist

    # NULL ids are not replicated driver-side: must fall through
    with_null = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a int, id_b int"
    )
    a = D.connected_dup_groups(with_null)
    b = D.connected_dup_groups(with_null, driver_edge_limit=0)
    ga = {(r["doc_id"], r["component"]) for r in a.collect()}
    gb = {(r["doc_id"], r["component"]) for r in b.collect()}
    a.unpersist()
    b.unpersist()
    assert ga == gb


def test_neardup_dedup_zero_dups_after_clean(spark):
    """The composed pipeline (round-4): after neardup_dedup, re-running
    it on the KEPT corpus finds zero verified near-duplicate pairs —
    the reference's zero-duplicates-after-clean invariant
    (pipeline_generator.py:773-780) at near-dup semantics."""
    # three cliques with DISJOINT vocabularies (a shared base would
    # merge them: cross-clique jaccard ~0.85) + unrelated singletons
    bodies = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "one two three four five six seven eight nine ten",
    ]
    texts = []
    for i in range(30):
        texts.append((i, bodies[i // 10] + f" x{i % 10}"))
    for i in range(30, 60):
        texts.append((i, f"totally unrelated document number {i} with words {i*7} {i*13}"))
    df = spark.createDataFrame(pd.DataFrame(texts, columns=["doc_id", "text"]))

    kept, drop, pairs, oversize = D.neardup_dedup(df, "doc_id", "text", jaccard_threshold=0.5)
    assert oversize.count() == 0
    # materialize run 1's output: run 2 would otherwise re-evaluate the
    # whole lazy UDF chain underneath every one of its own jobs
    kept = kept.localCheckpoint(eager=True)
    n_kept = kept.count()
    n_drop = drop.count()
    assert n_kept + n_drop == 60
    # each clique keeps exactly its min id
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert {0, 10, 20}.issubset(kept_ids)
    assert not ({1, 11, 21} & kept_ids)
    pairs.unpersist()

    kept2, drop2, pairs2, _ov2 = D.neardup_dedup(kept, "doc_id", "text", jaccard_threshold=0.5)
    assert pairs2.count() == 0 and drop2.count() == 0
    assert kept2.count() == n_kept
    pairs2.unpersist()


def test_incremental_neardup_equals_oneshot(spark, tmp_path):
    """Snapshot-delta near-dup: three appends (the third completes a
    clique STARTED two increments earlier), signatures computed only
    over each delta, candidates found against the persisted banded
    store — and the merged pair set + drop list equal a one-shot
    neardup_dedup over the whole corpus."""
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "nd_state")
    bodies = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "one two three four five six seven eight nine ten",
    ]

    def rows(ids, clique=None):
        out = []
        for i in ids:
            if clique is not None:
                out.append((i, bodies[clique] + f" x{i % 10}"))
            else:
                out.append((i, f"totally unrelated document number {i} "
                               f"with words {i*7} {i*13}"))
        return out

    batches = [
        rows(range(0, 10), 0) + rows(range(30, 40)),
        rows(range(10, 20), 1) + rows(range(20, 25), 2) + rows(range(40, 50)),
        rows(range(25, 30), 2) + rows(range(50, 60)),
    ]
    results = []
    for batch in batches:
        spark.createDataFrame(
            pd.DataFrame(batch, columns=["doc_id", "text"])
        ).coalesce(1).write.mode("append").parquet(corpus)
        results.append(
            D.incremental_neardup(
                spark, corpus, state, "doc_id", "text",
                jaccard_threshold=0.5,
            )
        )
    r1, r2, r3 = results
    assert (r1.increment, r2.increment, r3.increment) == (0, 1, 2)
    assert r1.oversize_buckets.count() == 0

    def pairset(df):
        return sorted(
            (r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()
        )

    # increment 2's new pairs must include CROSS-increment pairs:
    # clique C spans increments 1 (ids 20-24) and 2 (ids 25-29)
    new3 = pairset(r3.new_pairs)
    assert any(a < 25 <= b for a, b in new3), new3

    full_kept, full_drop, full_pairs, _ov = D.neardup_dedup(
        spark.read.parquet(corpus), "doc_id", "text", jaccard_threshold=0.5
    )
    assert pairset(r3.pairs) == pairset(full_pairs)
    inc_drop = sorted(r["doc_id"] for r in r3.drop_list.collect())
    one_drop = sorted(r["doc_id"] for r in full_drop.collect())
    assert inc_drop == one_drop

    # no-op call: nothing appended -> stored pairs, no new ones
    r4 = D.incremental_neardup(
        spark, corpus, state, "doc_id", "text", jaccard_threshold=0.5
    )
    assert r4.increment == 2 and r4.n_delta_files == 0
    assert r4.new_pairs.count() == 0
    assert pairset(r4.pairs) == pairset(full_pairs)

    # changed LSH params cannot merge with the stored signatures
    import pytest

    with pytest.raises(ValueError, match="parameters changed"):
        D.incremental_neardup(
            spark, corpus, state, "doc_id", "text",
            jaccard_threshold=0.5, num_hashes=32, bands=32,
        )

    # the neardup stores compact with the shared state compactor
    from automatic_data_validator_spark.incremental import compact_state

    rep = compact_state(spark, state)
    assert "banded" in rep and "pairs" in rep
    r5 = D.incremental_neardup(
        spark, corpus, state, "doc_id", "text", jaccard_threshold=0.5
    )
    assert pairset(r5.pairs) == pairset(full_pairs)


def test_incremental_neardup_accepts_state_pinning_signature_impl(spark, tmp_path):
    """State dirs written while the signature kernel was selectable
    carry ``"signature_impl"`` in their (unversioned) manifest params.
    Every kernel signed bit-identically, so the next increment must
    accept such a state (not raise "parameters changed") and still pair
    a new doc with a stored one; the next manifest drops the key."""
    import json
    import os

    from automatic_data_validator_spark.incremental import _load_state

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "nd_state")
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def append(rows):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"])
        ).coalesce(1).write.mode("append").parquet(corpus)

    append([(0, body + " x0"), (1, "unrelated words about parquet files")])
    D.incremental_neardup(spark, corpus, state, "doc_id", "text")
    # rewrite the state in the unversioned format: neardup_manifest.json, no
    # generation map, the signature choice pinned
    mpath = os.path.join(state, "neardup_manifest.1.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    assert "signature_impl" not in manifest["params"]
    manifest["params"]["signature_impl"] = "arrow"
    del manifest["stores"]
    with open(os.path.join(state, "neardup_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    os.remove(mpath)

    append([(2, body + " x1")])
    r = D.incremental_neardup(spark, corpus, state, "doc_id", "text")
    assert r.increment == 1 and r.n_delta_files == 1
    assert [(x["id_a"], x["id_b"]) for x in r.new_pairs.collect()] == [(0, 2)]
    st = _load_state(state, "neardup_manifest")
    assert st.version == 1 and "signature_impl" not in st.manifest["params"]


def test_incremental_neardup_random_batches(spark, tmp_path):
    """Seeded random batch splits of a near-dup corpus: the merged
    incremental pair set must equal the one-shot run regardless of how
    the docs were partitioned into increments."""
    import random

    rng = random.Random(99)
    bodies = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
    ]
    docs = [(i, bodies[i % 2] + f" x{i // 2 % 5}") for i in range(24)] + [
        (i, f"unrelated {i} {i * 7} {i * 13}") for i in range(24, 40)
    ]
    for trial in range(2):
        rng.shuffle(docs)
        cuts = sorted(rng.sample(range(1, len(docs)), 2))
        batches = [docs[:cuts[0]], docs[cuts[0]:cuts[1]], docs[cuts[1]:]]
        corpus = str(tmp_path / f"docs{trial}")
        state = str(tmp_path / f"state{trial}")
        last = None
        for b in batches:
            spark.createDataFrame(
                pd.DataFrame(b, columns=["doc_id", "text"])
            ).coalesce(1).write.mode("append").parquet(corpus)
            last = D.incremental_neardup(
                spark, corpus, state, "doc_id", "text",
                jaccard_threshold=0.5,
            )
        _k, _d, full_pairs, _o = D.neardup_dedup(
            spark.read.parquet(corpus), "doc_id", "text",
            jaccard_threshold=0.5,
        )
        inc_set = sorted(
            (r["id_a"], r["id_b"])
            for r in last.pairs.select("id_a", "id_b").collect()
        )
        full_set = sorted(
            (r["id_a"], r["id_b"])
            for r in full_pairs.select("id_a", "id_b").collect()
        )
        assert inc_set == full_set, (trial, cuts)


def test_incremental_neardup_cap_applies_to_combined_bucket(spark, tmp_path):
    """The incremental bucket cap sees the COMBINED (stored + delta)
    bucket size: two stored identical docs plus two new copies make a
    bucket of 4 over a cap of 3, so the new copies pair with nothing,
    the audit reports each band's bucket at 4 docs, and the stored pair
    stays. A one-shot run over the same corpus drops that bucket
    entirely and keeps only the pair that never reached the cap."""
    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "nd_state")
    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"

    def append_and_run(rows):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"])
        ).coalesce(1).write.mode("append").parquet(corpus)
        return D.incremental_neardup(
            spark, corpus, state, "doc_id", "text", max_bucket_size=3
        )

    def pairset(df):
        return sorted(
            (r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()
        )

    r0 = append_and_run([("a0", same), ("a1", same)])
    assert pairset(r0.new_pairs) == [("a0", "a1")]
    r1 = append_and_run([
        ("a2", same), ("a3", same), ("b0", near + " x1"), ("b1", near + " x2"),
    ])
    assert pairset(r1.new_pairs) == [("b0", "b1")]
    audit = r1.oversize_buckets.collect()
    assert len(audit) == 16 and all(r["n_docs"] == 4 for r in audit), audit
    assert pairset(r1.pairs) == [("a0", "a1"), ("b0", "b1")]
    _k, _d, full_pairs, _o = D.neardup_dedup(
        spark.read.parquet(corpus), "doc_id", "text", max_bucket_size=3
    )
    assert pairset(full_pairs) == [("b0", "b1")]


def test_neardup_corpus_planted_ground_truth(spark):
    """make_neardup_corpus (the dedup_e2e bench input): the pipeline
    must recover EXACTLY the planted consecutive pairs — count, pair
    identity, and keep-minimum representative all pinned."""
    from automatic_data_validator_spark.synth import make_neardup_corpus

    df = make_neardup_corpus(spark, 2_000, 200, seed=7)
    assert df.count() == 2_000
    kept, drop, pairs, oversize = D.neardup_dedup(df, "doc_id", "text")
    got = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    want = sorted(
        (f"dd-{2 * k:012d}", f"dd-{2 * k + 1:012d}") for k in range(100)
    )
    assert got == want
    # keep-first: the even member survives, the odd one is dropped
    dropped = {r[0] for r in drop.select("doc_id").collect()}
    assert dropped == {f"dd-{2 * k + 1:012d}" for k in range(100)}
    assert kept.count() == 1_900 and oversize.count() == 0
    # deterministic regeneration: same seed -> same texts
    a = df.orderBy("doc_id").select("text").collect()
    b = (
        make_neardup_corpus(spark, 2_000, 200, seed=7)
        .orderBy("doc_id").select("text").collect()
    )
    assert a == b


def test_neardup_corpus_rejects_bad_pair_count(spark):
    from automatic_data_validator_spark.synth import make_neardup_corpus
    import pytest

    with pytest.raises(ValueError):
        make_neardup_corpus(spark, 100, 7)
    with pytest.raises(ValueError):
        make_neardup_corpus(spark, 100, 102)


def test_brute_force_topk_arrow_equals_expression(spark):
    """The BLAS-batched exact scorer must return the SAME neighbors in
    the SAME ranks as the expression baseline (sims agree to 1e-9),
    and only k-bounded partials may leave each batch (scale contract
    is structural: per-batch local top-k before the window)."""
    rng = np.random.RandomState(11)
    n, q, dim, k = 600, 7, 32, 9
    vecs = [("v-%04d" % i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    qs = [("q-%d" % i, [float(x) for x in rng.randn(dim)]) for i in range(q)]
    vdf = spark.createDataFrame(vecs, "vec_id string, embedding array<double>").repartition(8)
    qdf = spark.createDataFrame(qs, "query_id string, embedding array<double>")

    base = brute_force_topk(vdf, qdf, k=k)
    fast = S.brute_force_topk_arrow(vdf, qdf, k=k)

    def keyed(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["neighbor_id"], r["cosine_sim"])
            )
        return {
            qid: sorted(rows, key=lambda t: (-t[1], t[0]))
            for qid, rows in out.items()
        }

    b, f = keyed(base), keyed(fast)
    assert set(b) == set(f) and all(len(v) == k for v in f.values())
    for qid in b:
        assert [x[0] for x in b[qid]] == [x[0] for x in f[qid]]
        for (_, sb), (_, sf) in zip(b[qid], f[qid]):
            assert abs(sb - sf) < 1e-9
    # NULL / wrong-dim embeddings are dropped, not scored
    dirty = spark.createDataFrame(
        [("bad-null", None), ("bad-dim", [1.0, 2.0])],
        "vec_id string, embedding array<double>",
    )
    f2 = S.brute_force_topk_arrow(vdf.unionByName(dirty), qdf, k=k)
    bad = f2.filter(F.col("neighbor_id").startswith("bad-")).count()
    assert bad == 0 and f2.count() == q * k


def test_brute_force_topk_arrow_empty_queries(spark):
    vdf = spark.createDataFrame(
        [("v-1", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    qdf = spark.createDataFrame([], "query_id string, embedding array<double>")
    assert S.brute_force_topk_arrow(vdf, qdf, k=3).count() == 0


def test_rebase_neardup_after_compaction(spark, tmp_path):
    """Corpus compaction (files rewritten, row multiset unchanged) is
    the one input change the append-only contract forbids; the rebase
    helper verifies the rewritten corpus's id multiset against the
    manifest's additive checksum and re-points the inventory, so the
    banded store keeps pairing new docs. A rewrite that changed the
    multiset must refuse."""
    import glob
    import os
    import shutil

    import pytest

    corpus = str(tmp_path / "docs")
    state = str(tmp_path / "nd_state")
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        pd.DataFrame([("a", body + " x1"), ("b", "unrelated words here one")],
                     columns=["doc_id", "text"])
    ).coalesce(1).write.mode("append").parquet(corpus)
    D.incremental_neardup(spark, corpus, state, "doc_id", "text",
                          jaccard_threshold=0.5)
    spark.createDataFrame(
        pd.DataFrame([("c", "other unrelated text two")],
                     columns=["doc_id", "text"])
    ).coalesce(1).write.mode("append").parquet(corpus)
    D.incremental_neardup(spark, corpus, state, "doc_id", "text",
                          jaccard_threshold=0.5)

    # row-preserving compaction: rewrite the 2-file corpus as 1 file
    compacted = spark.read.parquet(corpus).coalesce(1)
    tmp_out = str(tmp_path / "docs_compact")
    compacted.write.mode("overwrite").parquet(tmp_out)
    for f in glob.glob(f"{corpus}/*.parquet"):
        os.remove(f)
    for f in glob.glob(f"{tmp_out}/*.parquet"):
        shutil.move(f, os.path.join(corpus, os.path.basename(f)))

    # the contract refuses until the manifest is re-pointed
    with pytest.raises(ValueError, match="rebase_neardup"):
        D.incremental_neardup(spark, corpus, state, "doc_id", "text",
                              jaccard_threshold=0.5)
    n = D.rebase_neardup_after_compaction(spark, corpus, state)
    assert n == 1

    # the next increment pairs a near-copy of a PRE-compaction doc via
    # the persisted banded store (never re-signed)
    spark.createDataFrame(
        pd.DataFrame([("d", body + " x2")], columns=["doc_id", "text"])
    ).coalesce(1).write.mode("append").parquet(corpus)
    r = D.incremental_neardup(spark, corpus, state, "doc_id", "text",
                              jaccard_threshold=0.5)
    assert sorted(
        (x["id_a"], x["id_b"]) for x in r.new_pairs.collect()
    ) == [("a", "d")]

    # a corrupt rewrite (row dropped) must refuse the rebase
    dropped = spark.read.parquet(corpus).filter("doc_id <> 'b'").coalesce(1)
    tmp_out2 = str(tmp_path / "docs_corrupt")
    dropped.write.mode("overwrite").parquet(tmp_out2)
    for f in glob.glob(f"{corpus}/*.parquet"):
        os.remove(f)
    for f in glob.glob(f"{tmp_out2}/*.parquet"):
        shutil.move(f, os.path.join(corpus, os.path.basename(f)))
    with pytest.raises(ValueError, match="row multiset"):
        D.rebase_neardup_after_compaction(spark, corpus, state)
