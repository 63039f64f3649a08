"""Size-adaptive salt-bucket sizing for the kernel dispatch (round 6).

The salt-bucket count is derived from Catalyst's driver-side size
estimate: tiny inputs get exactly one task wave (per-task Arrow overhead
dominates them), huge inputs get bytes-bounded buckets (worker memory stays
flat as data grows), and unusable estimates fall back to the old fixed
4 * defaultParallelism.
"""

import math

import pytest

from scala_timeseries_lib_spark.operators import _kernel
from scala_timeseries_lib_spark.operators._kernel import _default_buckets


def _p(spark):
    return max(spark.sparkContext.defaultParallelism, 1)


def test_small_input_gets_one_wave(spark):
    # a few-KB frame: the estimate is far below one bucket's byte target,
    # so the count clamps to the defaultParallelism floor (ONE task wave)
    df = spark.range(1000).selectExpr("id as user_id", "id as ts",
                                      "cast(id as double) as value")
    assert _default_buckets(df) == max(_p(spark), 16)


def test_bucket_count_scales_with_estimated_bytes(spark, monkeypatch):
    df = spark.range(4000).selectExpr("id as user_id", "id as ts",
                                      "cast(id as double) as value")
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est > 0
    # shrink the per-bucket byte target so this same frame needs multiple
    # buckets: the count must follow ceil(est / target) until the cap
    target = max(est // 7, 1)
    monkeypatch.setattr(_kernel, "_BUCKET_BYTES", target)
    want = min(max(math.ceil(est / target), _p(spark), 16), _p(spark) * 32)
    assert _default_buckets(df) == want
    # and a 1-byte target hits the parallelism-proportional cap, not a
    # data-proportional explosion of tiny tasks
    monkeypatch.setattr(_kernel, "_BUCKET_BYTES", 1)
    assert _default_buckets(df) == _p(spark) * 32


def test_unusable_estimate_falls_back_to_fixed_default(spark):
    class _Shim:
        def __init__(self, df):
            self.sparkSession = df.sparkSession

        @property
        def _jdf(self):
            raise RuntimeError("no plan stats available")

    df = spark.range(10)
    assert _default_buckets(_Shim(df)) == max(_p(spark) * 4, 16)


def test_output_identical_across_bucket_counts(spark, monkeypatch):
    # bucketing is a pure physical knob: per-series kernels must produce
    # the same rows at any bucket count, and the count reaches the plan
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from scala_timeseries_lib_spark.operators._kernel import apply_per_bucket

    df = spark.range(500).selectExpr(
        "id % 37 as user_id", "id as ts", "cast(id % 11 as double) as value")
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("vsum", DoubleType()),
    ])

    def per_series_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("user_id", sort=True)
        out = g.agg(n=("ts", "size"), vsum=("value", "sum")).reset_index()
        return out[["user_id", "n", "vsum"]]

    rows = {}
    for nb in (1, 4, 32):
        monkeypatch.setattr(_kernel, "_default_buckets", lambda df, nb=nb: nb)
        out = apply_per_bucket(df, ["user_id"], per_series_stats, schema)
        assert out.rdd.getNumPartitions() == nb
        rows[nb] = sorted(map(tuple, out.collect()))
    assert rows[1] == rows[4] == rows[32]
