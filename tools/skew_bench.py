"""Skew torture bench: one pathological series vs the skew escape hatches.

The north rule's hot-domain story, measured instead of argued. Input =
the sf0.1 entries (plentiful normal keys) PLUS one pathological series:
a single key with ``--hot-entries`` entries (default 4M -- the "one domain
with millions of snapshots" case). Two scenarios:

1. **rollup 1m tier**: default plan (repartition BY KEY -> the hot key's
   entire explode+aggregate serializes into one task) vs
   ``skew_safe=True`` (round-robin spread; Catalyst inserts the (key,
   bucket) exchange). Equal outputs checked by row count + support sum.
2. **merge (plus)**: hot series merged against a shifted copy of itself --
   one series is one window partition, so the plain relational plan runs
   one straggler task; a manual ``time_slice`` pre-splits both sides at
   absolute boundaries and re-merges RLE runs across borders (identical
   output, pinned by tests); ``merge_series`` picks its slicing itself
   through the hot-key guard.

Reported per scenario: wall seconds with/without the mitigation, the
straggler ratio (max concurrent-task wall / ideal), and output equality.
Prints one JSON line. Run serialized on an idle box.

Usage: python tools/skew_bench.py [--hot-entries 4000000] [--cores 32]
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
    ap.add_argument("--hot-entries", type=int, default=4_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from scala_timeseries_lib_spark.operators import series_ops as ops
    from scala_timeseries_lib_spark.operators.entries import derive_entries
    from scala_timeseries_lib_spark.operators.merge import (
        _merge_tagged_relational,
        _tag_sides_n,
        merge_series,
    )
    from scala_timeseries_lib_spark.plans.session import get_spark

    spark = get_spark(
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores * 2,
        extra_conf={"spark.driver.memory": "24g"},
    )
    keys = ["user_id", "event_type"]

    events = spark.read.parquet(os.path.join(args.sf_dir, "events.parquet"))
    normal = derive_entries(events, keys, ts_col="ts", value_col="value")

    # one pathological series: 4M entries, 240s apart, validity 240s
    # (each entry spans 4 one-minute buckets -> explode amplification
    # concentrates on ONE key), deterministic random-walk values
    gap = 240_000
    hot = spark.range(args.hot_entries).select(
        F.lit(-1).alias("user_id"),
        F.lit("hot").alias("event_type"),
        (F.lit(1_500_000_000_000) + F.col("id") * gap).alias("ts"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("value"),
        F.lit(gap).cast("long").alias("validity"),
    )
    entries = normal.select(*keys, "ts", "value", "validity").unionByName(hot)
    entries = entries.persist()
    n_in = entries.count()

    def timed(fn, k=2):
        best = None
        for _ in range(k):
            t0 = time.time()
            r = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best, r

    def rollup_probe(skew_safe, disjoint=False):
        df = ops.rollup_time_weighted(
            entries, keys, 60_000, skew_safe=skew_safe, disjoint=disjoint
        )
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("support_ms").alias("sup")
        ).collect()[0]
        return int(row["n"]), int(row["sup"])

    # warmup all three plans
    rollup_probe(False)
    rollup_probe(True)
    rollup_probe(False, disjoint=True)
    t_def, out_def = timed(lambda: rollup_probe(False))
    t_safe, out_safe = timed(lambda: rollup_probe(True))
    # the fused split (caller asserts fitted/disjoint input -- true here):
    # interior buckets of the hot key bypass the hash agg entirely, so it
    # is the hot-key winner when the precondition holds
    t_split, out_split = timed(lambda: rollup_probe(False, disjoint=True))

    # merge scenario: hot vs shifted hot (plus normals on both sides)
    shifted = entries.withColumn("ts", F.col("ts") + 37_000)
    def merge_probe(time_slice=None, auto=False):
        if auto:
            df = merge_series(entries, shifted, keys, op="plus")
        else:
            df = _merge_tagged_relational(
                _tag_sides_n([entries, shifted], keys), keys, op="plus",
                time_slice=time_slice,
            )
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value") * F.col("validity")).alias("wsum"),
        ).collect()[0]
        return int(row["n"]), round(float(row["wsum"]), 3)

    # warm the plans (they codegen differently), then best-of-2 each --
    # a single pass at this size swings 2x with GC alignment
    merge_probe()
    merge_probe(time_slice=3_600_000 * 24)
    merge_probe(auto=True)
    # plain = the relational plan with no slicing (no guard)
    t_m_def, out_m_def = timed(lambda: merge_probe(), k=2)
    t_m_sliced, out_m_sliced = timed(
        lambda: merge_probe(time_slice=3_600_000 * 24), k=2
    )
    # the round-5 headline: merge_series with NO caller hint must detect
    # the 4M-entry key and land within ~1.1x of the best manual plan
    t_m_auto, out_m_auto = timed(lambda: merge_probe(auto=True), k=2)

    best_manual = min(t_m_def, t_m_sliced)
    print(json.dumps({
        "cores": args.cores,
        "entries_in": n_in,
        "hot_entries": args.hot_entries,
        "rollup": {
            "default_sec": round(t_def, 2),
            "skew_safe_sec": round(t_safe, 2),
            "disjoint_split_sec": round(t_split, 2),
            "speedup": round(t_def / t_safe, 2),
            "points": out_def[0],
            "outputs_equal": out_def == out_safe == out_split,
        },
        "merge": {
            "plain_sec": round(t_m_def, 2),
            "time_slice_sec": round(t_m_sliced, 2),
            "auto_guard_sec": round(t_m_auto, 2),
            "speedup": round(t_m_def / t_m_sliced, 2),
            "auto_vs_best_manual": round(t_m_auto / best_manual, 2),
            "rows": out_m_def[0],
            "outputs_equal": out_m_def[0] == out_m_sliced[0] == out_m_auto[0]
            and abs(out_m_def[1] - out_m_sliced[1]) <= max(1e-6 * abs(out_m_def[1]), 1e-3)
            and abs(out_m_def[1] - out_m_auto[1]) <= max(1e-6 * abs(out_m_def[1]), 1e-3),
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
