"""Round-6 guard internals: staged hot-key detection (bound -> probe ->
exact). The routing OUTPUT contract is already pinned by
tests/test_relational_merge.py; these tests pin the new detection stages
themselves on real parquet leaves."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pq_sides(spark, tmp_path_factory):
    """Two parquet-backed entries tables: one hot key (20k touching
    entries per side) + 50 cold keys, written to disk so the guard sees
    real LogicalRelation leaves (not LocalRelation/Range)."""
    root = tmp_path_factory.mktemp("skew_probe")
    n_hot, n_cold_keys, per_cold = 20_000, 50, 40

    def mk(shift):
        hot = spark.range(n_hot).select(
            F.lit("hotkey").alias("user_id"),
            (F.col("id") * 10 + shift).alias("ts"),
            F.pmod(F.col("id"), F.lit(7)).cast("double").alias("value"),
            F.lit(10).cast("long").alias("validity"),
        )
        cold = spark.range(n_cold_keys * per_cold).select(
            F.concat(F.lit("u"), (F.col("id") % n_cold_keys)).alias("user_id"),
            (F.col("id") * 100 + shift).alias("ts"),
            (F.col("id") % 5).cast("double").alias("value"),
            F.lit(90).cast("long").alias("validity"),
        )
        return hot.unionByName(cold)

    paths = []
    for i, shift in enumerate((0, 3)):
        p = str(root / f"side{i}.parquet")
        mk(shift).write.mode("overwrite").parquet(p)
        paths.append(p)
    return [spark.read.parquet(p) for p in paths]


def test_leaf_row_bound_on_parquet_union(spark, pq_sides):
    from scala_timeseries_lib_spark.operators.merge import (
        _leaf_row_bound,
        _tag_sides_n,
    )

    a, b = pq_sides
    tagged = _tag_sides_n([a, b], ["user_id"])
    n = 22_000  # per side: 20k hot + 50*40 cold
    assert _leaf_row_bound(tagged) == 2 * n
    # filters only tighten the bound's slack, never invalidate it
    assert _leaf_row_bound(tagged.filter("value > 2")) == 2 * n
    # a row-expanding operator must void the bound
    exploded = tagged.withColumn(
        "k", F.explode(F.sequence(F.lit(0), F.lit(3)))
    )
    assert _leaf_row_bound(exploded) is None


def test_leaf_row_bound_reads_classes_not_names(spark, pq_sides):
    from scala_timeseries_lib_spark.operators.merge import _leaf_row_bound

    named = pq_sides[0].withColumnRenamed("value", "JoinedValue")
    assert _leaf_row_bound(named) == 22_000


def test_leaf_row_bound_voids_pandas_expansion(spark, tmp_path):
    """A pandas map node can emit more rows than it reads: the bound must
    be void, not the leaf count."""
    from scala_timeseries_lib_spark.operators.merge import _leaf_row_bound
    from scala_timeseries_lib_spark.operators.window import sample_closest

    p = str(tmp_path / "e.parquet")
    spark.createDataFrame(
        [(f"u{i % 4}", i * 100, float(i), 90) for i in range(40)],
        "user_id string, ts long, value double, validity long",
    ).write.parquet(p)
    sampled = sample_closest(spark.read.parquet(p), ["user_id"], 7)
    assert sampled.count() > 40
    assert _leaf_row_bound(sampled) is None


def test_leaf_key_frame_requires_key_by_name(spark, pq_sides):
    from scala_timeseries_lib_spark.operators.merge import (
        _leaf_key_frame,
        _tag_sides_n,
    )

    a, b = pq_sides
    tagged = _tag_sides_n([a, b], ["user_id"])
    lk = _leaf_key_frame(tagged, ["user_id"])
    assert lk is not None and lk.columns == ["user_id"]
    # leaf counts are a sound OVER-approximation of tagged counts
    assert lk.count() == 44_000
    # a key column the leaves do not expose by name -> no leaf probe
    renamed = a.withColumnRenamed("user_id", "uid")
    t2 = _tag_sides_n([renamed, b.withColumnRenamed("user_id", "uid")], ["uid"])
    assert _leaf_key_frame(t2, ["uid"]) is None


def test_sampled_probe_routes_parquet_hot_key(spark, pq_sides):
    """End-to-end through the staged detection with a sampling-eligible
    threshold (5_000 * 1% = 50 expected rows = the soundness floor): the
    leaf bound (44k) cannot clear the input, the leaf-key probe flags the
    hot key, the exact pass routes it, and the output still equals the
    kernel engine's."""
    from scala_timeseries_lib_spark.operators.merge import merge_series

    a, b = pq_sides

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    expected = canon(
        merge_series(a, b, ["user_id"], op="plus", engine="kernel")
    )
    routed = canon(
        merge_series(a, b, ["user_id"], op="plus", hot_threshold=5_000)
    )
    assert routed == expected
    # nothing hot at a threshold above the hot key: the probe must come
    # back clean and the plain lazy plan must produce the same rows
    clean = canon(
        merge_series(a, b, ["user_id"], op="plus", hot_threshold=50_000)
    )
    assert clean == expected


def test_probe_detection_flags_only_truly_hot_keys(spark, pq_sides):
    """The sampled leaf probe's candidate set at the test threshold is
    exactly the hot key (Chernoff margin holds at this size)."""
    from scala_timeseries_lib_spark.operators.merge import (
        _GUARD_SAMPLE_FRACTION,
        _GUARD_SAMPLE_SEED,
        _leaf_key_frame,
        _tag_sides_n,
    )

    a, b = pq_sides
    tagged = _tag_sides_n([a, b], ["user_id"])
    lk = _leaf_key_frame(tagged, ["user_id"])
    frac = _GUARD_SAMPLE_FRACTION
    cut = int(np.ceil(5_000 * frac / 2.0))
    hits = (
        lk.sample(fraction=frac, seed=_GUARD_SAMPLE_SEED)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= cut)
        .collect()
    )
    assert [r["user_id"] for r in hits] == ["hotkey"]
