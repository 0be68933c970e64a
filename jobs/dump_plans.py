#!/usr/bin/env python
"""Dump .explain('formatted') for the bench-headline queries plus the
hot internal operators, for plans/r06/<name>_<tag>.txt.

Usage: python jobs/dump_plans.py <tag>   (tag = before|after)
Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""
from __future__ import annotations

import os
import sys


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, repo)

    from automatic_data_validator_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("advs-plans", parallelism=4, shuffle_partitions=8)
    qs = entrymod.queries()
    headline = [
        "q01_pricing_summary", "q05_quantiles", "q12_corr_matrix",
        "q20_window_topk_orders", "q23_unique_key_violations",
        "q26_token_counts", "q28_quality_flags", "q31_ann_cosine_topk",
    ]

    def dump(name: str, df) -> None:
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(txt)
        print(f"dumped {name}_{tag}", file=sys.stderr)

    for name in headline:
        dump(name, qs[name](spark, sf_dir))

    # internal operators on small synthetic inputs (plan SHAPE is what
    # matters; sizes only flip broadcast-vs-SMJ choices which are
    # count-gated at runtime anyway)
    from automatic_data_validator_spark.synth import (
        make_documents, make_media_catalog, make_neardup_corpus,
    )
    from automatic_data_validator_spark.spans import normalize_spans_arrow
    from automatic_data_validator_spark.dedup import (
        _lsh_band_buckets, minhash_lsh_duplicates, minhash_signature,
    )

    docs = make_documents(spark, 20_000, n_media=1000, seed=42)
    catalog = make_media_catalog(spark, 1000, seed=42)
    dd = make_neardup_corpus(spark, 20_000, 2_000, seed=7)

    dump("normalize_spans_arrow", normalize_spans_arrow(docs))
    dump("minhash_sig", dd.select(minhash_signature("text").alias("sig")))
    banded = _lsh_band_buckets(dd, "doc_id", "text", 16, 16, 3)
    dump("lsh_banded", banded)
    dump("lsh_pairs", minhash_lsh_duplicates(
        dd, "doc_id", "text", num_hashes=16, bands=16, max_bucket_size=2000))

    from automatic_data_validator_spark.validate import run_validation

    res = run_validation(spark, docs, catalog=catalog, with_profile=True)
    dump("validate_violations", res.violations)
    dump("validate_verdicts", res.verdicts)
    spark.stop()


if __name__ == "__main__":
    main()
