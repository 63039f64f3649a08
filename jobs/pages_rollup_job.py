"""spark-submit entry point for the north-star pipeline: Common-Crawl-style
pages -> per-url text_bytes signal -> entries -> 1m/1h/1d retention tiers.

The pages table is synthesized deterministically (no external data); pass
--n-urls to scale. The per-url signal follows FIXTURES.md A.1: value =
byte length of the extracted text at each snapshot, valid until the next
snapshot (capped).

Usage:
    spark-submit --py-files <package zip, see jobs/rollup_job.py> \\
        jobs/pages_rollup_job.py --out /data/pages_tiers --n-urls 5000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CAP_MS = 48 * 3_600_000


def build_entries(spark, n_urls: int, snapshots: int):
    from pyspark.sql import functions as F

    from scala_timeseries_lib_spark.operators.entries import derive_entries
    from scala_timeseries_lib_spark.sources.pages import pages_table

    pages = pages_table(spark, n_urls=n_urls, snapshots_per_url=snapshots)
    signal = pages.select(
        "url", "warc_ts", F.octet_length("text").cast("double").alias("text_bytes")
    )
    return derive_entries(
        signal, ["url"], ts_col="warc_ts", value_col="text_bytes",
        default_validity=CAP_MS,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-urls", type=int, default=1000)
    ap.add_argument("--snapshots", type=int, default=50)
    ap.add_argument("--master", default=None)
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from scala_timeseries_lib_spark.plans.session import get_spark
    from scala_timeseries_lib_spark.plans.tiers import TierPipeline

    spark = get_spark(master=args.master, app_name="pages_rollup_job")
    t0 = time.time()
    entries = build_entries(spark, args.n_urls, args.snapshots)
    pipeline = TierPipeline(args.out, ["url"])
    lineage = pipeline.update(entries, run_id=args.run_id)
    lineage["wall_sec"] = round(time.time() - t0, 3)
    points = sum(t["points"] for t in lineage["tiers"].values())
    lineage["points_per_sec"] = round(points / lineage["wall_sec"], 1)
    print(json.dumps(lineage))
    spark.stop()


if __name__ == "__main__":
    main()
