"""Relational (pure-Catalyst) merge plans vs the Arrow kernel twins.

The relational builders (operators/merge.py ``_merge_tagged_relational``
and its n-ary / strict-zip siblings) must be indistinguishable from the
kernel routes (``_merge_series_kernel`` and siblings) for every named
numeric op, including per-side minus defaults, single-sided keys, empty
sides, and touching/overlapping/gapped entries. Reference semantics:
TimeSeriesMerger.scala:13-196, NumericTimeSeries.scala:18-45,
TimeSeries.scala:277-335,530-534.
"""

import numpy as np
import pytest

from scala_timeseries_lib_spark.operators import merge as merge_mod
from scala_timeseries_lib_spark.operators.merge import (
    _merge_n_tagged_relational,
    _merge_series_kernel,
    _merge_series_n_kernel,
    _merge_tagged_relational,
    _strict_zip_kernel,
    _tag_sides_n,
    _zip_tagged_relational,
    merge_series,
    merge_series_n,
    strict_zip_series,
)

KEY = ["user_id"]


def _relational(a, b, key_cols, op, time_slice=None, **kw):
    """The plain (or manually sliced) binary relational plan, no guard."""
    return _merge_tagged_relational(
        _tag_sides_n([a, b], key_cols), key_cols, op=op,
        time_slice=time_slice, **kw,
    )


def _relational_n(sides, key_cols, op, time_slice=None):
    return _merge_n_tagged_relational(
        _tag_sides_n(sides, key_cols), key_cols, len(sides), op=op,
        time_slice=time_slice,
    )


def _relational_zip(a, b, key_cols, time_slice=None):
    return _zip_tagged_relational(
        _tag_sides_n([a, b], key_cols), key_cols, time_slice=time_slice
    )


def _mk(spark, seed, n_keys=6, max_entries=40, only_keys=None):
    rng = np.random.default_rng(seed)
    rows = []
    for k in range(n_keys):
        key = f"k{k}"
        if only_keys is not None and key not in only_keys:
            continue
        t = int(rng.integers(0, 5))
        for _ in range(int(rng.integers(0, max_entries))):
            t += int(rng.integers(0, 20))
            dur = int(rng.integers(1, 15))
            rows.append((key, t, float(rng.integers(-3, 4)), dur))
            # 70% touching (RLE-relevant), 30% gapped
            t += dur if rng.random() < 0.7 else dur + int(rng.integers(1, 10))
    if not rows:
        rows = []
    return spark.createDataFrame(
        rows, "user_id string, ts long, value double, validity long"
    )


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


OPS = [
    ("plus", {}),
    ("plus_strict", {}),
    ("minus", {}),
    ("minus", dict(left_default=1.5)),
    ("minus", dict(right_default=-2.0)),
    ("minus", dict(left_default=1.5, right_default=-2.0)),
    ("minus_strict", {}),
    ("multiply_strict", {}),
    ("fallback", {}),
]


@pytest.mark.parametrize("op,kw", OPS, ids=[f"{o}-{sorted(k)}" for o, k in OPS])
def test_relational_matches_kernel(spark, op, kw):
    a, b = _mk(spark, 11), _mk(spark, 22)
    kernel = _canon(_merge_series_kernel(a, b, KEY, op=op, **kw))
    rel = _canon(_relational(a, b, ["user_id"], op=op, **kw))
    assert kernel == rel
    assert len(kernel) > 0


def test_relational_single_sided_keys(spark):
    # keys present on exactly one side behave as merge-with-empty
    a = _mk(spark, 31, only_keys={"k0", "k1", "k2"})
    b = _mk(spark, 32, only_keys={"k2", "k3", "k4"})
    for op in ("plus", "plus_strict", "fallback"):
        kernel = _canon(_merge_series_kernel(a, b, KEY, op=op))
        rel = _canon(_relational(a, b, ["user_id"], op=op))
        assert kernel == rel, op


def test_relational_empty_side(spark):
    a = _mk(spark, 41)
    empty = a.limit(0)
    rel = _canon(_relational(a, empty, ["user_id"], op="plus"))
    kernel = _canon(_merge_series_kernel(a, empty, KEY, op="plus"))
    assert rel == kernel
    assert _canon(_relational(a, empty, ["user_id"], op="plus_strict")) == []
    # the auto skew guard must survive empty/one-sided inputs (checkpoint
    # + count over zero rows) and match the plain plan
    assert _canon(merge_series(a, empty, ["user_id"], op="plus")) == kernel
    assert _canon(merge_series(empty, empty, ["user_id"], op="plus")) == []
    # empty left, right and both sides of the zip and the n-ary merge; the
    # kernel routes reach the bucket driver's empty-bucket step
    for route, zip_fn, n_fn in (
        ("public", strict_zip_series, merge_series_n),
        ("kernel", _strict_zip_kernel, _merge_series_n_kernel),
    ):
        for left, right in ((a, empty), (empty, a), (empty, empty)):
            sides = f"{route}: {left is a}, {right is a}"
            assert _canon(zip_fn(left, right, KEY)) == [], sides
            assert _canon(n_fn([left, right], KEY, op="plus")) == (
                kernel if left is a or right is a else []), sides


@pytest.mark.parametrize("sides,op,compress", [
    (2, "minus", False), (2, "minus", True), (2, "nope", False),
    (0, "plus", True), (0, "plus", False),
], ids=["minus-kernel", "minus-relational", "unknown-kernel",
        "no-side-relational", "no-side-kernel"])
def test_merge_series_n_rejects_bad_call_eagerly(spark, sides, op, compress):
    """An op outside plus|plus_strict, or no side at all, raises at call
    time on either plan, not later in a worker."""
    dfs = [_mk(spark, 81), _mk(spark, 82)][:sides]
    with pytest.raises(ValueError):
        merge_series_n(dfs, KEY, op=op, compress=compress)


def test_relational_touching_entries_same_instant(spark):
    # an entry starting exactly where another ends must take effect
    # immediately (end markers sort before starts at equal p)
    a = spark.createDataFrame(
        [("k", 0, 1.0, 10), ("k", 10, 2.0, 10)],
        "user_id string, ts long, value double, validity long",
    )
    b = spark.createDataFrame(
        [("k", 5, 10.0, 10), ("k", 15, 20.0, 5)],
        "user_id string, ts long, value double, validity long",
    )
    rel = _canon(_relational(a, b, ["user_id"], op="plus"))
    kernel = _canon(_merge_series_kernel(a, b, KEY, op="plus"))
    assert rel == kernel
    # spot-check one segment: at t=10 both new a-entry (2.0) and b (10.0)
    assert ("k", 10, 12.0, 5) in rel


def test_relational_rle_compression(spark):
    # equal contiguous results must merge into one entry across the join
    a = spark.createDataFrame(
        [("k", 0, 1.0, 10), ("k", 10, 2.0, 10)],
        "user_id string, ts long, value double, validity long",
    )
    b = spark.createDataFrame(
        [("k", 0, 2.0, 10), ("k", 10, 1.0, 10)],
        "user_id string, ts long, value double, validity long",
    )
    rel = _canon(_relational(a, b, ["user_id"], op="plus"))
    assert rel == [("k", 0, 3.0, 20)]


def test_n_ary_relational_matches_kernel(spark):
    sides = [_mk(spark, s) for s in (51, 52, 53)]
    for op in ("plus", "plus_strict"):
        kernel = _canon(_merge_series_n_kernel(sides, KEY, op=op))
        rel = _canon(_relational_n(sides, ["user_id"], op=op))
        assert kernel == rel, op
        assert len(kernel) > 0


def test_strict_zip_relational_matches_kernel(spark):
    a, b = _mk(spark, 61), _mk(spark, 62)
    kernel = _canon(_strict_zip_kernel(a, b, KEY))
    rel = _canon(_relational_zip(a, b, ["user_id"]))
    assert kernel == rel
    assert len(kernel) > 0


def test_nan_values_match_kernel_split(spark):
    """NaN input values: the kernels keep NaN segments but never RLE-merge
    adjacent NaN runs (numpy NaN != NaN); Spark's NaN = NaN is true, so the
    relational islands must break on NaN explicitly. Binary named ops treat
    NaN results as holes on BOTH engines (kernel keep-mask, relational
    filter); n-ary and strict-zip keep them, split."""
    nan = float("nan")
    rows_a = [("k", 0, 1.0, 10), ("k", 10, nan, 10), ("k", 20, nan, 10),
              ("k", 35, 2.0, 5)]
    rows_b = [("k", 0, nan, 15), ("k", 15, 3.0, 10), ("k", 30, nan, 10)]
    schema = "user_id string, ts long, value double, validity long"
    a = spark.createDataFrame(rows_a, schema)
    b = spark.createDataFrame(rows_b, schema)

    def _cmp_nan(k_rows, r_rows):
        assert len(k_rows) == len(r_rows)
        for kr, rr in zip(k_rows, r_rows):
            for kv, rv in zip(kr, rr):
                if isinstance(kv, float) and np.isnan(kv):
                    assert isinstance(rv, float) and np.isnan(rv)
                else:
                    assert kv == rv

    # binary: NaN results are holes on both engines
    for op in ("plus", "plus_strict", "fallback"):
        kernel = _canon(_merge_series_kernel(a, b, KEY, op=op))
        rel = _canon(_relational(a, b, ["user_id"], op=op))
        _cmp_nan(kernel, rel)
    # n-ary: NaN kept, adjacent NaN runs stay split like the kernel
    for op in ("plus", "plus_strict"):
        kernel = _canon(_merge_series_n_kernel([a, b], KEY, op=op))
        rel = _canon(_relational_n([a, b], ["user_id"], op=op))
        _cmp_nan(kernel, rel)
    # strict zip: NaN pair slots kept, split
    kernel = _canon(_strict_zip_kernel(a, b, KEY))
    rel = _canon(_relational_zip(a, b, ["user_id"]))
    _cmp_nan(kernel, rel)


def test_skew_guard_routes_hot_keys(spark, monkeypatch):
    """merge_series must detect a key above HOT_KEY_THRESHOLD WITHOUT a
    caller hint, merge it through an auto-sized time_slice, keep the cold
    keys on the plain plan, and produce output identical to every manual
    plan."""
    from pyspark.sql import functions as F

    a, b = _mk(spark, 201), _mk(spark, 202)
    # a synthetic hot key: 5k touching entries on each side
    hot_a = spark.range(5000).select(
        F.lit("hotkey").alias("user_id"), (F.col("id") * 10).alias("ts"),
        (F.pmod(F.col("id"), F.lit(7))).cast("double").alias("value"),
        F.lit(10).cast("long").alias("validity"),
    )
    hot_b = spark.range(5000).select(
        F.lit("hotkey").alias("user_id"),
        (F.col("id") * 10 + 3).alias("ts"),
        (F.pmod(F.col("id"), F.lit(5))).cast("double").alias("value"),
        F.lit(10).cast("long").alias("validity"),
    )
    left = a.unionByName(hot_a)
    right = b.unionByName(hot_b)

    expected = _canon(_merge_series_kernel(left, right, KEY, op="plus"))
    # guard present but nothing hot: plain relational, same output
    unrouted = _canon(merge_series(left, right, ["user_id"], op="plus"))
    assert unrouted == expected
    # no guard: the plain relational plan, same output
    lazy = _canon(_relational(left, right, KEY, op="plus"))
    assert lazy == expected
    # guard fires (threshold 1000 < 10k hot entries): split routing
    monkeypatch.setattr(merge_mod, "HOT_KEY_THRESHOLD", 1000)
    routed = _canon(merge_series(
        left, right, ["user_id"], op="plus"
    ))
    assert routed == expected
    # the routed plan stays zero-Python
    plan = merge_series(
        left, right, ["user_id"], op="plus"
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    # null key components must route too (null-safe predicate)
    def _canon_null(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    null_hot_a = hot_a.withColumn("user_id", F.lit(None).cast("string"))
    null_hot_b = hot_b.withColumn("user_id", F.lit(None).cast("string"))
    exp_null = _canon_null(_merge_series_kernel(
        a.unionByName(null_hot_a), b.unionByName(null_hot_b), KEY, op="plus",
    ))
    got_null = _canon_null(merge_series(
        a.unionByName(null_hot_a), b.unionByName(null_hot_b), ["user_id"],
        op="plus",
    ))
    assert got_null == exp_null


def test_n_ary_and_zip_time_slice_and_guard(spark, monkeypatch):
    """The hot-key escape generalizes to the whole merge family: n-ary and
    strict-zip sliced outputs equal the plain plans, and the auto guard
    routes a synthetic hot key with no caller hint."""
    from pyspark.sql import functions as F

    sides = [_mk(spark, s) for s in (221, 222, 223)]
    for op in ("plus", "plus_strict"):
        base = _canon(_relational_n(sides, ["user_id"], op=op))
        sliced = _canon(_relational_n(
            sides, ["user_id"], op=op, time_slice=41
        ))
        assert base == sliced, op
        assert len(base) > 0
    a, b = _mk(spark, 231), _mk(spark, 232)
    zbase = _canon(_relational_zip(a, b, ["user_id"]))
    zsliced = _canon(_relational_zip(
        a, b, ["user_id"], time_slice=53
    ))
    assert zbase == zsliced
    assert len(zbase) > 0

    hot = spark.range(4000).select(
        F.lit("hotkey").alias("user_id"), (F.col("id") * 10).alias("ts"),
        (F.pmod(F.col("id"), F.lit(7))).cast("double").alias("value"),
        F.lit(10).cast("long").alias("validity"),
    )
    hs = [s.unionByName(hot) for s in sides]
    za, zb = a.unionByName(hot), b.unionByName(hot)
    exp = _canon(_merge_series_n_kernel(hs, KEY, op="plus"))
    zexp = _canon(_strict_zip_kernel(za, zb, KEY))
    monkeypatch.setattr(merge_mod, "HOT_KEY_THRESHOLD", 1000)
    got = _canon(merge_series_n(hs, ["user_id"], op="plus"))
    assert got == exp
    zgot = _canon(strict_zip_series(za, zb, ["user_id"]))
    assert zgot == zexp


def test_auto_engine_routes_named_ops_relationally(spark):
    a, b = _mk(spark, 71), _mk(spark, 72)
    df = merge_series(a, b, ["user_id"], op="plus")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange") == 1
    # callable op must still take the kernel
    df2 = merge_series(
        a, b, ["user_id"],
        op=lambda x, y: (x or 0.0) + (y or 0.0) or None,
    )
    assert "FlatMapGroupsInPandas" in df2._jdf.queryExecution().executedPlan().toString()


def test_relational_time_slice_identical_output(spark):
    # the hot-key escape hatch must not change results: slice at absolute
    # boundaries, merge per (key, slice), RLE-repair across borders
    a, b = _mk(spark, 91), _mk(spark, 92)
    base = _canon(_relational(a, b, ["user_id"], op="plus"))
    sliced = _canon(
        _relational(a, b, ["user_id"], op="plus", time_slice=37)
    )
    assert base == sliced
    plan = _relational(
        a, b, ["user_id"], op="plus", time_slice=37
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan


def test_relational_time_slice_rejects_hole_filling_ops(spark, monkeypatch):
    """minus with both defaults fills (undefined, undefined) segments, so
    slicing would leave holes at slice borders: merge_series must keep it
    on the plain plan, never entering the guard (whose exact pass fires
    jobs while the plan is built), even with a measured-hot key."""
    import os

    from pyspark.sql import functions as F

    hot = spark.range(2000).select(
        F.lit("hotkey").alias("user_id"), (F.col("id") * 20).alias("ts"),
        F.pmod(F.col("id"), F.lit(3)).cast("double").alias("value"),
        F.lit(10).cast("long").alias("validity"),
    )
    a = _mk(spark, 93).unionByName(hot)
    b = _mk(spark, 94).unionByName(hot.withColumn("ts", F.col("ts") + 5))
    sc = spark.sparkContext

    def build_jobs(**kw):
        group = f"hole-filling-{os.getpid()}-{len(kw)}"
        sc.setJobGroup(group, "merge_series build")
        try:
            df = merge_series(a, b, KEY, op="minus", **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), df

    monkeypatch.setattr(merge_mod, "HOT_KEY_THRESHOLD", 1000)
    kw = dict(left_default=1.0, right_default=2.0)
    jobs, df = build_jobs(**kw)
    assert jobs == 0
    assert _canon(df) == _canon(_merge_series_kernel(a, b, KEY, op="minus", **kw))
    # control: with one default the op cannot fill holes, so the guard runs
    assert build_jobs(left_default=1.0)[0] > 0


def test_rolling_relational_matches_kernel(spark):
    """rolling(sum|mean) via cumulative sums minus an as-of end-event carry
    (operators/window.py _rolling_values_relational) must match the
    contiguous-range kernel bit-for-bit on fitted series."""
    from scala_timeseries_lib_spark.operators.window import (
        _rolling_values_kernel,
        rolling_values,
    )

    df = _mk(spark, 101)
    for agg in ("sum", "mean"):
        for window_ms in (13, 60, 500):
            kernel = _canon(_rolling_values_kernel(
                df, ["user_id"], window_ms, agg=agg
            ))
            rel = _canon(rolling_values(df, ["user_id"], window_ms, agg=agg))
            assert kernel == rel, (agg, window_ms)
            assert len(kernel) > 0
    # uncompressed twin too (no RLE pass)
    k = _canon(_rolling_values_kernel(df, ["user_id"], 60, compress=False))
    r = _canon(rolling_values(df, ["user_id"], 60, compress=False))
    assert k == r
    # min/max must stay on the kernel (order statistics need RMQ)
    plan = rolling_values(
        df, ["user_id"], 60, agg="min"
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    plan2 = rolling_values(
        df, ["user_id"], 60, agg="sum"
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan2


def _per_key(df):
    per_key = {}
    for r in df.collect():
        per_key.setdefault(r["user_id"], []).append(
            (r["ts"], r["value"], r["validity"])
        )
    for entries in per_key.values():
        entries.sort()
    return per_key


def _seq_sweep(df, width, agg_factory, sample_rate=None, compress=True):
    """The sequential per-series exact sweep (kernel.window.window_sweep),
    closest-in-window resampled when ``sample_rate`` is set."""
    from scala_timeseries_lib_spark.kernel import window as kwin
    from scala_timeseries_lib_spark.kernel.fitter import fit

    out = []
    for key, entries in _per_key(df).items():
        emitted = [
            (ts, float(a), validity)
            for (ts, _c, validity), a in kwin.window_sweep(
                entries, width, agg_factory(), sample_rate, True
            )
            if a is not None
        ]
        if compress:
            emitted = fit(emitted, compress=True)
        out += [(key, ts, v, d) for ts, v, d in emitted]
    return sorted(out)


def _rounded(rows):
    return sorted((k, t, round(v, 9), d) for k, t, v, d in rows)


def test_sample_closest_matches_sequential(spark):
    """The Spark closest-in-window sampler (vectorized kernel per salt
    bucket) must match the sequential reference sampler per series
    across rates, raw and compressed."""
    from scala_timeseries_lib_spark.kernel.sample import sample
    from scala_timeseries_lib_spark.operators.window import sample_closest

    df = _mk(spark, 111, max_entries=60)
    per_key = _per_key(df)
    for rate in (7, 20, 121):
        for compress in (False, True):
            want = sorted(
                (key, *e)
                for key, entries in per_key.items()
                for e in sample(entries, entries[0][0], rate,
                                use_closest=True, compress=compress)
            )
            got = _canon(sample_closest(
                df, ["user_id"], rate, compress=compress
            ))
            assert got == want, (rate, compress)
            assert len(got) > 0


def test_sliding_exact_relational_matches_sequential(spark):
    """The zero-Python exact-sweep twin must reproduce the SEQUENTIAL
    sweep's accumulation bit-for-bit (drops retract before adds at each
    cursor, same float order) for sum over raw holey entries; mean over
    the closest-in-window resampled grid runs on the kernel and matches
    it to 9 decimals."""
    from scala_timeseries_lib_spark.kernel import window as kwin
    from scala_timeseries_lib_spark.operators.window import (
        sliding_window_exact,
    )

    df = _mk(spark, 301, n_keys=8, max_entries=50)
    width = 60

    rel = _canon(sliding_window_exact(
        df, ["user_id"], width, "sum", compress=True,
    ))
    assert rel == _seq_sweep(df, width, kwin.SumAggregator)
    assert len(rel) > 50
    # compress=False twin too (every emission, no RLE)
    rel_raw = _canon(sliding_window_exact(
        df, ["user_id"], width, "sum", compress=False,
    ))
    assert len(rel_raw) >= len(rel)
    mean = _canon(sliding_window_exact(
        df, ["user_id"], width, "mean", sample_rate=20, compress=True,
    ))
    assert _rounded(mean) == _rounded(
        _seq_sweep(df, width, kwin.MeanAggregator, 20)
    )
    assert len(mean) > 50
    # the relational plan is zero-Python
    plan = sliding_window_exact(
        df, ["user_id"], width, "sum"
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan
    # only the un-resampled sum takes the relational sweep
    for agg, rate in (("median", None), ("sum", 20), ("mean", 20)):
        plan = sliding_window_exact(
            df, ["user_id"], width, agg, sample_rate=rate,
        )._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan, (agg, rate)


def test_sliding_exact_relational_matches_kernel_rounded(spark):
    """Vs the VECTORIZED kernel engine: identical up to the documented
    ~1e-13 prefix-difference float divergence (compare at 9 decimals,
    same rounding the oracle queries apply); the resampled mean runs on
    the kernel only and is held to the sequential sweep the same way."""
    from scala_timeseries_lib_spark.kernel import window as kwin
    from scala_timeseries_lib_spark.operators.window import (
        _sliding_window_exact_kernel,
        sliding_window_exact,
    )

    df = _mk(spark, 311, n_keys=6, max_entries=40)

    def run(fn, agg, rate=None):
        return _rounded(_canon(fn(
            df, ["user_id"], 80, agg, sample_rate=rate, compress=False,
        )))

    kernel = run(_sliding_window_exact_kernel, "sum")
    assert kernel == run(sliding_window_exact, "sum")
    assert len(kernel) > 50
    mean = run(sliding_window_exact, "mean", 25)
    assert mean == _rounded(
        _seq_sweep(df, 80, kwin.MeanAggregator, 25, compress=False)
    )
    assert len(mean) > 50


def test_relational_stress_high_entropy(spark):
    """One wide adversarial batch instead of per-example fuzzing (a Spark
    round per hypothesis example would be minutes): 40 keys mixing dense
    RLE chains, long validities, negative timestamps, huge magnitudes, and
    singleton series — kernel and relational must agree on every op."""
    rng = np.random.default_rng(987)
    rows_a, rows_b = [], []
    for k in range(40):
        key = f"k{k}"
        style = k % 4
        for rows, seed_shift in ((rows_a, 0), (rows_b, 1)):
            t = int(rng.integers(-1_000_000, 1_000_000))
            n = 1 if style == 3 else int(rng.integers(2, 120))
            for _ in range(n):
                if style == 0:      # dense chain, tiny values (RLE-heavy)
                    dur = int(rng.integers(1, 4))
                    v = float(rng.integers(0, 2))
                    gap = 0
                elif style == 1:    # long validities, big magnitudes
                    dur = int(rng.integers(10_000, 500_000))
                    v = float(rng.integers(-10**9, 10**9))
                    gap = int(rng.integers(0, 1_000_000))
                else:               # mixed
                    dur = int(rng.integers(1, 500))
                    v = float(rng.integers(-50, 50))
                    gap = int(rng.integers(0, 800))
                rows.append((key, t, v, dur))
                t += dur + gap + (1 if gap == 0 and rng.random() < 0.5 else 0)
                # keep strictly increasing when gap==0 kept half the time
                if gap == 0 and rows[-1][1] == t:
                    t += 1
    a = spark.createDataFrame(
        rows_a, "user_id string, ts long, value double, validity long"
    )
    b = spark.createDataFrame(
        rows_b, "user_id string, ts long, value double, validity long"
    )
    for op, kw in OPS:
        kernel = _canon(
            _merge_series_kernel(a, b, KEY, op=op, **kw)
        )
        rel = _canon(_relational(a, b, ["user_id"], op=op, **kw))
        assert kernel == rel, op
        assert len(kernel) > 100

    # same adversarial batch through the relational exact sweep vs the
    # sequential kernel (negative timestamps, dense RLE chains, huge
    # magnitudes, singleton series — bit-exact, both widths)
    from scala_timeseries_lib_spark.kernel import window as kwin
    from scala_timeseries_lib_spark.operators.window import (
        sliding_window_exact,
    )

    for width in (7, 100_000):
        got = _canon(sliding_window_exact(a, ["user_id"], width, "sum"))
        assert got == _seq_sweep(a, width, kwin.SumAggregator), width
        assert len(got) > 1000
