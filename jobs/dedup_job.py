#!/usr/bin/env python
"""spark-submit entry point for the near-duplicate dedup pipeline.

Cluster usage:

    zip -r advs.zip automatic_data_validator_spark
    spark-submit --py-files advs.zip \
        --conf spark.sql.adaptive.enabled=true \
        jobs/dedup_job.py \
        --documents s3://bucket/warehouse/db/documents \
        --output    s3://bucket/dedup/run-2026-08-17 \
        --tau 0.8

Local smoke (this sandbox):

    python jobs/dedup_job.py --documents /root/testdata/sf0.001/documents.parquet \
        --output /tmp/advs_dedup_out --id-col doc_id --text-col text

Runs MinHash-LSH candidates -> exact n-gram-Jaccard verify ->
connected components -> drop-list (dedup.neardup_dedup) and writes:

    {output}/kept         the deduplicated corpus
    {output}/drop_list    (doc_id, component) rows removed
    {output}/pairs        verified (id_a, id_b, jaccard) pairs
    {output}/oversize_buckets  LSH buckets excluded by the size cap
                               (the visible-audit contract)

Exit code 0; prints one summary line with kept/dropped/pair counts.
"""

from __future__ import annotations

import argparse
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# unlike validate_job, this pipeline ships Python UDFs (the Arrow
# minhash kernel) to executors — local-mode workers resolve imports
# from PYTHONPATH, not the driver's sys.path, so export it BEFORE the
# JVM starts; on a real cluster --py-files governs instead
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--documents", required=True, help="Iceberg name or parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--tau", type=float, default=0.8, help="jaccard threshold")
    ap.add_argument("--num-hashes", type=int, default=16)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--incremental-state", default=None, metavar="DIR",
                    help="snapshot-delta mode: sign only files appended "
                         "since the last run with this state dir "
                         "(dedup.incremental_neardup); --documents must "
                         "be a parquet path")
    ap.add_argument("--compact-state", action="store_true",
                    help="after an incremental run, rewrite the state "
                         "stores to 1 file/increment (incremental."
                         "compact_state); requires --incremental-state")
    args = ap.parse_args(argv)
    if args.compact_state and not args.incremental_state:
        raise SystemExit(
            "--compact-state only applies to --incremental-state runs"
        )

    from pyspark.sql import SparkSession

    from automatic_data_validator_spark.dedup import neardup_dedup
    from automatic_data_validator_spark.sources import (
        read_table,
        write_outputs_parallel,
    )

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("advs-dedup").getOrCreate()

    if args.incremental_state:
        from automatic_data_validator_spark.dedup import incremental_neardup

        r = incremental_neardup(
            spark, args.documents, args.incremental_state,
            args.id_col, args.text_col,
            jaccard_threshold=args.tau, num_hashes=args.num_hashes,
            bands=args.bands, shingle_k=args.shingle_k,
        )
        write_outputs_parallel(
            {"pairs": r.pairs, "new_pairs": r.new_pairs,
             "drop_list": r.drop_list,
             "oversize_buckets": r.oversize_buckets},
            args.output,
        )
        print(
            f"incremental dedup: increment={r.increment} "
            f"delta_files={r.n_delta_files} "
            f"new_pairs={spark.read.parquet(f'{args.output}/new_pairs').count()} "
            f"total_pairs={spark.read.parquet(f'{args.output}/pairs').count()} "
            f"dropped={spark.read.parquet(f'{args.output}/drop_list').count()}; "
            f"outputs at {args.output}"
        )
        if args.compact_state:
            from automatic_data_validator_spark.incremental import (
                compact_state,
            )

            crep = compact_state(spark, args.incremental_state)
            print(f"compacted state: {crep}")
        if owns_session:
            spark.stop()
        return 0

    docs = read_table(spark, args.documents)
    # the audit comes from neardup_dedup's own banded frame — a
    # separate audit pass would re-run the signature UDF over the
    # whole corpus (round-4 review finding)
    kept, drop_list, pairs, audit = neardup_dedup(
        docs, args.id_col, args.text_col, jaccard_threshold=args.tau,
        num_hashes=args.num_hashes, bands=args.bands, shingle_k=args.shingle_k,
    )
    write_outputs_parallel(
        {"kept": kept, "drop_list": drop_list, "pairs": pairs,
         "oversize_buckets": audit},
        args.output,
    )
    n_kept = spark.read.parquet(f"{args.output}/kept").count()
    n_drop = spark.read.parquet(f"{args.output}/drop_list").count()
    n_pairs = spark.read.parquet(f"{args.output}/pairs").count()
    n_over = spark.read.parquet(f"{args.output}/oversize_buckets").count()
    print(
        f"dedup: kept={n_kept} dropped={n_drop} verified_pairs={n_pairs} "
        f"oversize_buckets={n_over}; outputs at {args.output}"
    )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
