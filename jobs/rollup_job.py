"""spark-submit entry point: raw events -> entries -> 1m/1h/1d retention
tiers, resumable from the checkpoint in --out.

Usage:
    spark-submit --py-files <package zip> \\
        jobs/rollup_job.py --input /root/testdata/sf0.1 --out /data/tiers

(Build the zip, named by a digest of the sources, and print its path with
``python -c "from scala_timeseries_lib_spark.plans.packaging import build_pyfiles_zip; print(build_pyfiles_zip())"``.)

Rerunning after a crash resumes from the committed watermark and rewrites
only the affected day partitions (idempotent).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir with events.parquet")
    ap.add_argument("--out", required=True, help="tier output dir")
    ap.add_argument("--master", default=None)
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from scala_timeseries_lib_spark.operators.entries import derive_entries
    from scala_timeseries_lib_spark.plans.session import get_spark
    from scala_timeseries_lib_spark.plans.tiers import TierPipeline

    spark = get_spark(master=args.master, app_name="rollup_job")
    t0 = time.time()
    events = spark.read.parquet(os.path.join(args.input, "events.parquet"))
    entries = derive_entries(
        events, ["user_id", "event_type"], ts_col="ts", value_col="value"
    )
    pipeline = TierPipeline(args.out, ["user_id", "event_type"])
    lineage = pipeline.update(entries, run_id=args.run_id)
    lineage["wall_sec"] = round(time.time() - t0, 3)
    points = sum(t["points"] for t in lineage["tiers"].values())
    lineage["points_per_sec"] = round(points / lineage["wall_sec"], 1)
    print(json.dumps(lineage))
    spark.stop()


if __name__ == "__main__":
    main()
