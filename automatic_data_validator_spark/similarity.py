"""Similarity over embedding columns (array<float>).

Two exact scorers: ``cosine_neardup_pairs`` is the all-pairs cosine
near-duplicate verifier, with the dot product computed by
``F.zip_with`` + ``F.aggregate`` (JVM-side, no Python), and
``brute_force_topk_arrow`` is the cosine top-k per query, scored by one
BLAS matmul per Arrow batch. The interpreted-HOF top-k it replaced is
kept in tests/oracles.py as its reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import local_frame


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine_sim).

    The EXACT all-pairs verifier — a cross join, O(n^2), for small
    tables and oracle checks only."""
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    # norms are per-row columns, not per-pair recomputation
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        dbl(F.col(vec_col)).alias("_va"),
        _norm(dbl(F.col(vec_col))).alias("_na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        dbl(F.col(vec_col)).alias("_vb"),
        _norm(dbl(F.col(vec_col))).alias("_nb"),
    )
    pairs = va.crossJoin(vb).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        (_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias(
            "cosine_sim"
        ),
    ).filter(F.col("cosine_sim") >= threshold)


def brute_force_topk_arrow(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k, vectorized: same contract and ranking as
    the expression baseline ``brute_force_topk`` in tests/oracles.py
    (query side small by construction; ties break sim desc,
    neighbor_id asc) but the scoring is ONE float64 BLAS matmul per
    Arrow batch instead of an interpreted aggregate()/
    zip_with() HOF pair per (vector, query) — the 20x-interpreted-HOF
    cost the expression baseline pays per element.

    Scale shape for 10^12 vectors: the L2-normalized query matrix
    ships inside the UDF closure (small side), each batch emits only
    its LOCAL top-k per query (<= k x |queries| rows per batch), so
    the window that picks the global top-k shuffles a k-bounded
    candidate set, never the similarity matrix. Rows with NULL or
    dimension-mismatched embeddings are dropped here (the expression
    baseline carries them with NULL sims that sort last — same top-k
    whenever >= k valid rows exist; NaN-norm rows differ, see test).
    """
    import numpy as np
    import pandas as pd

    schema = (
        f"query_id {queries.schema[query_id_col].dataType.simpleString()}, "
        f"neighbor_id {vectors.schema[id_col].dataType.simpleString()}, "
        "cosine_sim double"
    )
    q_rows = queries.select(query_id_col, vec_col).collect()
    # the drop-dirty-rows contract applies to BOTH sides: a NULL or
    # dimension-mismatched QUERY embedding would otherwise crash the
    # driver-side matrix build (the expression baseline carries such
    # queries with all-NULL sims — k unrankable rows; here they are
    # dropped, same policy as dirty vectors)
    dim = next((len(r[1]) for r in q_rows if r[1] is not None), None)
    q_rows = [r for r in q_rows if r[1] is not None and len(r[1]) == dim]
    if not q_rows:
        return local_frame(vectors.sparkSession, [], schema)
    q_ids = [r[0] for r in q_rows]
    qm = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def score(batches):
        for b in batches:
            ids = b[id_col].to_numpy()
            embs = b[vec_col]
            mask = np.array(
                [e is not None and len(e) == dim for e in embs], dtype=bool
            )
            if not mask.any():
                continue
            ids = ids[mask]
            m = np.asarray([list(e) for e in embs[mask]], dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ qm.T  # (batch, queries) in one BLAS call
            top = min(k, sims.shape[0])
            # per-batch partial top-k with the global tie-break:
            # lexsort is stable -> sort by id asc then -sim
            for j, qid in enumerate(q_ids):
                order = np.lexsort((ids, -sims[:, j]))[:top]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[order],
                        "cosine_sim": sims[order, j],
                    }
                )

    partial = vectors.select(id_col, vec_col).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
