"""Reference oracles for the shipped vectorized kernels.

Pure-Catalyst expression formulations of the MinHash signature and of
the exact cosine top-k. The package ships only the Arrow-batched
kernels (dedup.minhash_signature, similarity.brute_force_topk_arrow);
these interpreted versions are several-fold slower but state the
definition directly, so the tests pin the kernels to them: the
signatures bit for bit, the top-k rank for rank. The Column-API LSH
band builder is kept the same way: the package builds the identical
expression tree from one SQL string. ``lsh_oversize_buckets`` is the
reference for ``neardup_dedup``'s oversize audit, and
``span_sequence_key`` the exact key of the per-row span-sequence
invariant.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from automatic_data_validator_spark import config
from automatic_data_validator_spark import dedup as D
from automatic_data_validator_spark import similarity as S


def minhash_signature_expr(text_col: str, num_hashes: int = 16, shingle_k: int = 3):
    """sig[i] = min over word shingles of xxhash64(shingle, i), all
    minima folded in ONE aggregate pass with an array accumulator."""
    sh = D.word_shingles(text_col, shingle_k)
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        sh,
        F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes),
        lambda acc, s: F.zip_with(acc, idx, lambda m, i: F.least(m, F.xxhash64(s, i))),
    )


def brute_force_topk(
    vectors,
    queries,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
):
    """Exact cosine top-k per query vector -> (query_id, neighbor_id,
    cosine_sim): a broadcast cross join scored by interpreted
    zip_with/aggregate HOFs, ranked by a window per query with the
    (sim desc, id asc) tie-break. Rows with NULL or wrong-dimension
    embeddings carry NULL sims, which sort last."""
    # norms hoisted to per-ROW columns before the join: cosine inside
    # the pair projection would recompute both norms per PAIR
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        S._norm(F.col(vec_col)).alias("_qn"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        S._norm(F.col(vec_col)).alias("_vn"),
    )
    sims = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (S._dot(F.col("_v"), F.col("_qv")) / (F.col("_vn") * F.col("_qn"))).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def lsh_band_buckets_columns(
    df, id_col: str, text_col: str, num_hashes: int, bands: int, shingle_k: int
):
    """(_id, band, bucket) rows with each band's bucket struct built
    through the Column API: xxhash64 of the band's signature slice,
    its elements cast to string and joined with ','. A one-row band
    hashes its single element directly (array_join of one element is
    that element)."""
    rows_per_band = num_hashes // bands

    def band_bucket(b: int):
        if rows_per_band == 1:
            return F.xxhash64(F.element_at("_sig", b + 1).cast("string"))
        return F.xxhash64(
            F.array_join(
                F.transform(
                    F.slice("_sig", b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        )

    bucket_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
            for b in range(bands)
        ]
    )
    sig = D.minhash_signature(text_col, num_hashes, shingle_k)
    return (
        df.select(F.col(id_col).alias("_id"), sig.alias("_sig"))
        .select("_id", bucket_arr.alias("_bb"))
        .select("_id", F.explode_outer("_bb").alias("bb"))
        .filter(F.col("bb").isNotNull())
        .select("_id", "bb.band", "bb.bucket")
    )


def lsh_oversize_buckets(
    df,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = config.LSH_MAX_BUCKET_SIZE,
):
    """The (band, bucket, n_docs) rows that exceed max_bucket_size and
    are therefore excluded from candidate generation: an independent
    groupBy over the package's band builder."""
    return (
        D._lsh_band_buckets(df, id_col, text_col, num_hashes, bands, shingle_k)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def span_sequence_key(spans_col: str = "spans"):
    """Canonical JSON of the (kind, text, media_ref, offset) sequence —
    the exact (collision-free) comparison key for span-sequence
    equality."""
    c = F.col(spans_col)
    return F.to_json(
        F.transform(
            c,
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        )
    )
