"""spark-submit entry point: raw documents -> filtered, deduplicated
training corpus with per-stage lineage counts.

Pipeline (the standard web-corpus preparation chain):

1. quality gate       -- language-determined + quality score + token range,
                         exact-dedup to canonical docs (one Catalyst scan +
                         one md5 hash-aggregate), functions.text.quality_filter
2. near-dup candidates -- MinHash LSH banded pairs with the hot-bucket cap,
                         functions.dedup.minhash_lsh_pairs
3. clustering          -- connected components by large-star/small-star
                         contraction (diameter-independent default),
                         functions.dedup.neardup_clusters; keep one doc per
                         cluster (the minimum id)
4. write               -- surviving corpus as parquet, plus a JSON lineage
                         line with per-stage row counts

Usage:
    spark-submit --py-files <package zip, see jobs/rollup_job.py> \\
        jobs/corpus_dedup_job.py --input /root/testdata/sf0.1 --out /data/corpus
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(
    spark,
    input_dir: str,
    out_dir: str,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    max_bucket_size: int = 10_000,
) -> dict:
    """The job body, session-agnostic (spark-submit main() and the e2e test
    share it). Returns the lineage dict that main() prints."""
    from pyspark.sql import functions as F

    from scala_timeseries_lib_spark.functions.dedup import (
        minhash_lsh_pairs,
        neardup_clusters,
    )
    from scala_timeseries_lib_spark.functions.text import quality_filter

    t0 = time.time()
    docs = spark.read.parquet(os.path.join(input_dir, "documents.parquet"))
    n_in = docs.count()

    gated = quality_filter(
        docs,
        min_quality=min_quality,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
    ).select("doc_id")
    # the gated corpus feeds the pair generation, the clustering, and the
    # final semi-join: cache it so the quality gate runs once
    kept_docs = docs.join(gated, "doc_id", "semi").cache()
    n_gated = kept_docs.count()

    # materialize the candidate pairs once: the lineage count and every
    # clustering round read them
    pairs, hot = minhash_lsh_pairs(
        kept_docs, max_bucket_size=max_bucket_size, return_stats=True
    )
    pairs = pairs.localCheckpoint(eager=True)
    n_pairs = pairs.count()
    # boilerplate-degeneracy lineage (ADVICE/VERDICT r3): how many LSH
    # buckets blew the cap and how many linear star pairs they emitted
    # (per band, before cross-band dedup) -- a corpus where these numbers
    # dominate n_pairs is template-degenerate and deserves operator eyes.
    # One server-side aggregate: on a template-degenerate corpus the hot
    # set itself need not be tiny, so never collect its rows to the driver.
    hot_agg = hot.agg(
        F.count(F.lit(1)).alias("n_hot_buckets"),
        F.coalesce(F.sum(F.col("m") - 1), F.lit(0)).alias("n_star_pairs"),
    ).first()
    n_hot_buckets = int(hot_agg["n_hot_buckets"])
    n_star_pairs = int(hot_agg["n_star_pairs"])
    clusters = neardup_clusters(kept_docs, pairs)

    survivors = clusters.filter(
        F.col("doc_id") == F.col("canonical_id")
    ).select("doc_id")
    corpus = docs.join(survivors, "doc_id", "semi")
    corpus.write.mode("overwrite").parquet(os.path.join(out_dir, "corpus"))
    n_out = spark.read.parquet(os.path.join(out_dir, "corpus")).count()
    kept_docs.unpersist()

    return {
        "docs_in": n_in,
        "after_quality_and_exact_dedup": n_gated,
        "neardup_candidate_pairs": n_pairs,
        "n_hot_buckets": n_hot_buckets,
        "n_star_pairs": n_star_pairs,
        "docs_out": n_out,
        "wall_sec": round(time.time() - t0, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir with documents.parquet")
    ap.add_argument("--out", required=True, help="output dir for the corpus")
    ap.add_argument("--master", default=None)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--max-tokens", type=int, default=100_000)
    ap.add_argument("--max-bucket-size", type=int, default=10_000)
    args = ap.parse_args()

    from scala_timeseries_lib_spark.plans.session import get_spark

    spark = get_spark(master=args.master, app_name="corpus_dedup_job")
    lineage = run(
        spark,
        args.input,
        args.out,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        max_bucket_size=args.max_bucket_size,
    )
    print(json.dumps(lineage))
    spark.stop()


if __name__ == "__main__":
    main()
