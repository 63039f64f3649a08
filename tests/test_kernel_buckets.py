"""Size-adaptive salt-bucket sizing for the kernel dispatch.

The salt-bucket count is ``ceil(estimated_bytes / _BUCKET_BYTES)`` from
Catalyst's driver-side size estimate, clamped to ``[defaultParallelism,
32 * defaultParallelism]``: a small input runs exactly one task wave (every
Python task pays a fixed worker cost with no data in it, so tasks beyond
the core count buy nothing), a large one gets bytes-bounded buckets (worker
memory stays flat as data grows), and an unusable estimate falls back to
``max(4 * defaultParallelism, 16)``. Each choice is one decision record.
"""

import logging
import math

import pytest

from scala_timeseries_lib_spark.operators import _kernel
from scala_timeseries_lib_spark.operators._kernel import (
    _default_buckets,
    apply_grouped,
)


def _p(spark):
    return max(spark.sparkContext.defaultParallelism, 1)


def test_small_input_gets_one_wave(spark):
    # a few-KB frame: the estimate is far below one bucket's byte target,
    # so the count clamps to the floor, one bucket per core (ONE task wave)
    df = spark.range(1000).selectExpr("id as user_id", "id as ts",
                                      "cast(id as double) as value")
    assert _default_buckets(df) == _p(spark)


def test_small_apply_grouped_stage_is_one_wave(spark):
    # the planned kernel stage itself: its salt exchange has exactly one
    # partition per core, so every task of the stage runs in one wave
    df = spark.range(1000).selectExpr("id % 7 as user_id", "id as ts",
                                      "cast(id as double) as value",
                                      "1L as validity")
    out = apply_grouped(df, ["user_id"], lambda codes, *cols: (codes, *cols))
    assert out.rdd.getNumPartitions() == _p(spark)
    assert out.count() == 1000


def test_bucket_count_scales_with_estimated_bytes(spark, monkeypatch):
    df = spark.range(4000).selectExpr("id as user_id", "id as ts",
                                      "cast(id as double) as value")
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est > 0
    # shrink the per-bucket byte target so this same frame needs multiple
    # buckets: the count must follow ceil(est / target) until the cap
    target = max(est // 7, 1)
    monkeypatch.setattr(_kernel, "_BUCKET_BYTES", target)
    want = min(max(math.ceil(est / target), _p(spark)), _p(spark) * 32)
    assert _default_buckets(df) == want
    # and a 1-byte target hits the parallelism-proportional cap, not a
    # data-proportional explosion of tiny tasks
    monkeypatch.setattr(_kernel, "_BUCKET_BYTES", 1)
    assert _default_buckets(df) == _p(spark) * 32


class _NoStats:
    """A frame whose plan statistics are unavailable."""

    def __init__(self, spark):
        self.sparkSession = spark

    @property
    def _jdf(self):
        raise RuntimeError("no plan stats available")


def test_unusable_estimate_falls_back_to_fixed_default(spark):
    assert _default_buckets(_NoStats(spark)) == max(_p(spark) * 4, 16)


def test_decision_record(spark, caplog):
    # one INFO record per choice, with the same extra schema as the tier
    # pipeline's finest-plan record (tests/test_tier_plans.py)
    df = spark.range(1000).selectExpr("id as user_id", "id as ts")
    with caplog.at_level(logging.INFO, logger="scala_timeseries_lib_spark"):
        n = _default_buckets(df)
        n_fallback = _default_buckets(_NoStats(spark))
    recs = [r for r in caplog.records if getattr(r, "op", None) == "kernel.buckets"]
    assert len(recs) == 2
    for r, want, fallback in ((recs[0], n, False), (recs[1], n_fallback, True)):
        assert r.name == "scala_timeseries_lib_spark" and r.levelno == logging.INFO
        assert r.decision == want
        assert r.inputs == {
            "est_bytes": r.inputs["est_bytes"],
            "default_parallelism": _p(spark),
            "bucket_bytes": _kernel._BUCKET_BYTES,
            "fallback": fallback,
        }
        assert r.elapsed_ms >= 0.0
        assert f"kernel.buckets: {want} " in r.getMessage()
    assert recs[0].inputs["est_bytes"] > 0 and recs[1].inputs["est_bytes"] == -1


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
