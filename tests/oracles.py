"""Reference oracles for the shipped signature kernels.

Pure-Catalyst expression formulations of the MinHash, SimHash and
random-hyperplane signatures. The package ships only the Arrow-batched
kernels (dedup.minhash_signature, dedup.simhash,
similarity.hyperplane_signatures_batch); these interpreted versions are
several-fold slower but state the definition directly, so the tests
pin the kernels to them bit for bit. The Column-API LSH band builder
is kept the same way: the package builds the identical expression
tree from one SQL string.
"""

from __future__ import annotations

from pyspark.sql import functions as F

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


def simhash_expr(text_col: str, bits: int = 64):
    """Bit-majority SimHash over xxhash64 token hashes: one aggregate()
    pass with a ``bits``-wide vote accumulator, bit-packed in the
    aggregate's finish lambda (ties -> 0 bit)."""
    quoted = "`" + text_col.replace("`", "``") + "`"
    return F.expr(
        f"""
        aggregate(
          transform(split(lower({quoted}), '\\\\s+'), t -> xxhash64(t)),
          array_repeat(0L, {bits}),
          (acc, h) -> zip_with(
              acc, sequence(0, {bits - 1}),
              (a, b) -> a + if((shiftright(h, b) & 1L) = 1L, 1L, -1L)),
          acc -> aggregate(
              zip_with(acc, sequence(0, {bits - 1}),
                       (v, b) -> if(v > 0L, shiftleft(1L, b), 0L)),
              0L, (x, y) -> x | y)
        )
        """
    )


def hyperplane_signature_expr(
    vec_col: str, n_planes: int = 16, dim: int = 64, seed: int = 42
):
    """One table's random-hyperplane signature as a bigint bit-pack:
    bit p set iff the dot product with plane p (the kernel's seeded
    plane matrix, embedded as literal arrays) is > 0. Wrong-dimension
    rows get a NULL signature."""
    planes = S._plane_matrix(n_planes, dim, seed)
    v = F.col(vec_col)
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        w_lit = F.array(*[F.lit(float(x)) for x in planes[p]])
        proj = F.aggregate(
            F.zip_with(v, w_lit, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return F.when(F.size(v) == dim, sig)


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
