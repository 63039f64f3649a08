"""Spark operators vs the (fixture-pinned) numpy kernels on random series.

Mirrors the reference's shared TestBench pattern (TimeSeriesTestBench.scala):
the same logical series is pushed through (a) the pure kernel and (b) the
Spark pipeline, and the results must agree exactly.
"""

import statistics

import numpy as np
import pytest

from scala_timeseries_lib_spark.kernel import bucket as kbucket
from scala_timeseries_lib_spark.kernel import fitter as kfitter
from scala_timeseries_lib_spark.kernel import integral as kintegral
from scala_timeseries_lib_spark.kernel import merge as kmerge
from scala_timeseries_lib_spark.kernel import sample as ksample
from scala_timeseries_lib_spark.kernel import window as kwin
from scala_timeseries_lib_spark.operators import series_ops as ops
from scala_timeseries_lib_spark.operators.entries import fit_entries
from scala_timeseries_lib_spark.operators.merge import merge_series
from scala_timeseries_lib_spark.operators.window import (
    dynamic_window_exact,
    sliding_grid_agg,
    sliding_window_exact,
)

pytestmark = pytest.mark.spark


def random_series(rng, n, start=1_000):
    ts = start + np.cumsum(rng.integers(1, 20, n)).astype(np.int64) * 1000
    value = rng.integers(0, 5, n).astype(np.float64)
    validity = rng.integers(1, 25, n).astype(np.int64) * 1000
    return list(zip(ts.tolist(), value.tolist(), validity.tolist()))


def make_df(spark, series_by_key):
    rows = [
        (k, int(t), float(v), int(d))
        for k, entries in series_by_key.items()
        for t, v, d in entries
    ]
    return spark.createDataFrame(rows, "key string, ts long, value double, validity long")


def collect_series(df, key):
    return [
        (r["ts"], r["value"], r["validity"])
        for r in df.filter(df.key == key).orderBy("ts").collect()
    ]


@pytest.fixture(scope="module")
def series3(spark):
    rng = np.random.default_rng(11)
    raw = {f"k{i}": random_series(rng, 40) for i in range(3)}
    fitted = {k: kfitter.fit(v) for k, v in raw.items()}
    return raw, fitted, make_df(spark, fitted)


class TestFitEntries:
    def test_matches_kernel(self, spark, series3):
        raw, fitted, _ = series3
        df = make_df(spark, raw)
        got = fit_entries(df, ["key"], compress=True)
        for k in raw:
            assert collect_series(got, k) == fitted[k]


class TestTrimSlice:
    def test_slice_matches_kernel_trims(self, spark, series3):
        _, fitted, df = series3
        lo, hi = 40_000, 300_000
        got = ops.slice_series(df, lo, hi)
        for k, entries in fitted.items():
            expected = []
            for ts, v, d in entries:
                s, e = max(ts, lo), min(ts + d, hi)
                if s < e:
                    expected.append((s, v, e - s))
            assert collect_series(got, k) == expected

    def test_discrete_trims(self, spark, series3):
        _, fitted, df = series3
        at = 150_000
        keep = ops.trim_right_discrete(df, at, include_entry=True)
        drop = ops.trim_right_discrete(df, at, include_entry=False)
        for k, entries in fitted.items():
            assert collect_series(keep, k) == [e for e in entries if e[0] < at]
            assert collect_series(drop, k) == [
                e for e in entries if e[0] + e[2] <= at
            ]


class TestSplitAndRollup:
    def test_split_entries_longer_than(self, spark, series3):
        _, fitted, df = series3
        got = ops.split_entries_longer_than(df, 7000)
        for k, entries in fitted.items():
            assert collect_series(got, k) == ksample.split_longer_than(entries, 7000)

    def test_split_at_buckets(self, spark, series3):
        _, fitted, df = series3
        got = ops.split_at_buckets(df, 60_000)
        for k, entries in fitted.items():
            assert [
                (r["ts"], r["value"], r["validity"])
                for r in got.filter(got.key == k).orderBy("ts").collect()
            ] == kbucket.split_at_buckets(entries, 60_000)

    def test_rollup_twmean_matches_kernel(self, spark, series3):
        _, fitted, df = series3
        step = 60_000
        got = ops.rollup_time_weighted(df, ["key"], step)
        for k, entries in fitted.items():
            rows = {
                r["bucket"]: r
                for r in got.filter(got.key == k).collect()
            }
            pieces = kbucket.split_at_buckets(entries, step)
            by_bucket = {}
            for ts, v, d in pieces:
                b = ts - (ts % step)
                by_bucket.setdefault(b, []).append((ts, v, d))
            assert set(rows) == set(by_bucket)
            for b, es in by_bucket.items():
                wsum = sum(v * d for _, v, d in es)
                dur = sum(d for _, _, d in es)
                assert rows[b]["twmean"] == pytest.approx(wsum / dur)
                assert rows[b]["vmin"] == min(v for _, v, _ in es)
                assert rows[b]["vmax"] == max(v for _, v, _ in es)
                assert rows[b]["support_ms"] == dur

    def test_reaggregate_exactness(self, spark, series3):
        _, fitted, df = series3
        fine = ops.rollup_time_weighted(df, ["key"], 60_000)
        coarse_direct = ops.rollup_time_weighted(df, ["key"], 300_000)
        coarse_re = ops.reaggregate_rollup(fine, ["key"], 300_000)
        a = {
            (r["key"], r["bucket"]): (r["twmean"], r["vmin"], r["vmax"], r["support_ms"])
            for r in coarse_direct.collect()
        }
        b = {
            (r["key"], r["bucket"]): (r["twmean"], r["vmin"], r["vmax"], r["support_ms"])
            for r in coarse_re.collect()
        }
        assert set(a) == set(b)
        for key in a:
            assert a[key][0] == pytest.approx(b[key][0], rel=1e-12)
            assert a[key][1:] == b[key][1:]


class TestStepIntegral:
    def test_matches_kernel(self, spark, series3):
        _, fitted, df = series3
        got = ops.step_integral(df, ["key"], "ms")
        for k, entries in fitted.items():
            expected = kintegral.step_integral(entries, "ms")
            got_k = collect_series(got, k)
            assert [(t, d) for t, _, d in got_k] == [(t, d) for t, _, d in expected]
            np.testing.assert_allclose(
                [v for _, v, _ in got_k], [v for _, v, _ in expected], rtol=1e-12
            )


class TestFillAndSample:
    def test_locf_fill_then_strict_sample_matches_kernel(self, spark, series3):
        _, fitted, df = series3
        rate = 5000
        filled = ops.fill_gaps_locf(df, ["key"])
        grid = ops.sample_strict_grid(filled, ["key"], rate)
        for k, entries in fitted.items():
            k_filled = ksample.fill(entries, None, compress=False)
            # LOCF: kernel fill with previous value
            k_filled = []
            prev = None
            for ts, v, d in entries:
                if prev is not None and prev[0] + prev[2] < ts:
                    k_filled.append((prev[0] + prev[2], prev[1], ts - prev[0] - prev[2]))
                k_filled.append((ts, v, d))
                prev = (ts, v, d)
            expected = ksample.sample(k_filled, entries[0][0], rate, use_closest=False)
            assert collect_series(grid, k) == expected


class TestMerge:
    @pytest.mark.parametrize("op,kop", [
        ("plus", kmerge.op_non_strict_plus),
        ("plus_strict", kmerge.op_strict(lambda a, b: a + b)),
        ("fallback", kmerge.op_fallback),
    ])
    def test_matches_kernel(self, spark, op, kop):
        rng = np.random.default_rng(23)
        left = {f"k{i}": kfitter.fit(random_series(rng, 30)) for i in range(3)}
        right = {f"k{i}": kfitter.fit(random_series(rng, 25)) for i in range(2)}
        got = merge_series(make_df(spark, left), make_df(spark, right), ["key"], op=op)
        for k in left:
            expected = kmerge.merge_entries(left[k], right.get(k, []), kop)
            assert collect_series(got, k) == expected


class TestSlidingGrid:
    def test_grid_integral_matches_kernel_sweep(self, spark):
        # hole-free, grid-aligned series (gaps are multiples of the rate, so
        # the reference's closest-in-window sampling coincides with strict
        # sampling): grid framing equals the exact sweep
        rng = np.random.default_rng(5)
        rate, width = 2000, 8000
        series = {}
        for i in range(3):
            n = 30
            ts = 2000 + np.cumsum(rng.integers(1, 10, n)).astype(np.int64) * rate
            validity = np.append(np.diff(ts), rng.integers(1, 10) * rate)
            value = rng.integers(0, 5, n).astype(float)
            series[f"k{i}"] = list(zip(ts.tolist(), value.tolist(), validity.tolist()))
        df = make_df(spark, series)
        grid = ops.sample_strict_grid(df, ["key"], rate)
        got = sliding_grid_agg(grid, ["key"], width, rate, agg="integral", timeunit="ms")
        for k, entries in series.items():
            expected = kintegral.sliding_integral(entries, width, rate, "ms")
            got_k = collect_series(got, k)
            # kernel emits at grid points here (hole-free grid, width = m*rate)
            assert [(t, d) for t, _, d in got_k] == [(t, d) for t, _, d in expected]
            np.testing.assert_allclose(
                [v for _, v, _ in got_k], [v for _, v, _ in expected], rtol=1e-12
            )


class TestMergeN:
    def test_nary_matches_generic_kernel(self, spark):
        from scala_timeseries_lib_spark.operators.merge import merge_series_n

        rng = np.random.default_rng(31)
        sides = [
            {f"k{i}": kfitter.fit(random_series(rng, 20 + 5 * s)) for i in range(3)}
            for s in range(3)
        ]

        def op_sum_non_strict(vals):
            defined = [v for v in vals if v is not None]
            return sum(defined) if defined else None

        got = merge_series_n(
            [make_df(spark, s) for s in sides], ["key"], op="plus"
        )
        for k in sides[0]:
            expected = kmerge.merge_entries_n(
                [s.get(k, []) for s in sides], op_sum_non_strict
            )
            assert collect_series(got, k) == expected

    def test_vectorized_nary_matches_generic(self):
        rng = np.random.default_rng(37)
        sides = [kfitter.fit(random_series(rng, 25)) for _ in range(4)]

        def op_sum_strict(vals):
            if any(v is None for v in vals):
                return None
            return sum(vals)

        for op_name, op_fn in [
            ("plus", lambda vs: sum(v for v in vs if v is not None)
             if any(v is not None for v in vs) else None),
            ("plus_strict", op_sum_strict),
        ]:
            ts, val, dur = kmerge.merge_apply_numeric_n(
                [(np.array([e[0] for e in s]), np.array([e[1] for e in s]),
                  np.array([e[2] for e in s])) for s in sides],
                op=op_name,
            )
            expected = kmerge.merge_entries_n(sides, op_fn)
            assert list(zip(ts.tolist(), val.tolist(), dur.tolist())) == expected


class TestSlidingStd:
    def test_grid_std_matches_numpy(self, spark):
        # uniform grid: time-weighted biased std reduces to plain biased std
        # over the window rows (StdAggregator, BasicAggregators.scala:71-96)
        rng = np.random.default_rng(41)
        rate, width = 1000, 4000
        n = 50
        ts = np.arange(n, dtype=np.int64) * rate + 5000
        value = rng.normal(10, 3, n)
        series = {"k0": list(zip(ts.tolist(), value.tolist(), [rate] * n))}
        df = make_df(spark, series)
        got = collect_series(
            sliding_grid_agg(df, ["key"], width, rate, agg="std"), "k0"
        )
        rows_back = (width + rate - 1) // rate  # window frame row span
        for i, (t, v, _) in enumerate(got):
            lo = max(0, i - rows_back)
            w = value[lo : i + 1]
            assert abs(v - float(np.std(w))) < 1e-9, (i, t)


class TestSampleClosestVectorized:
    def test_matches_sequential_kernel(self):
        rng = np.random.default_rng(19)
        for _ in range(300):
            n = int(rng.integers(1, 40))
            ts = 100 + np.cumsum(rng.integers(1, 50, n)) * 10
            validity = rng.integers(1, 60, n) * 10
            value = rng.integers(0, 6, n).astype(float)
            es = kfitter.fit(
                list(zip(ts.tolist(), value.tolist(), validity.tolist()))
            )
            if not es:
                continue
            rate = int(rng.integers(1, 40)) * 10
            seq = ksample.sample(es, es[0][0], rate, use_closest=True)
            g, v, d = ksample.sample_arrays_closest(
                [e[0] for e in es], [e[1] for e in es], [e[2] for e in es],
                es[0][0], rate,
            )
            assert list(zip(g, v, d)) == seq


class TestDynamicWindowRelational:
    def test_matches_exact_kernel(self, spark):
        from pyspark.sql import functions as F

        from scala_timeseries_lib_spark.operators.window import (
            dynamic_window_exact,
            dynamic_window_relational,
        )

        rng = np.random.default_rng(43)
        series = {
            f"k{i}": kfitter.fit(random_series(rng, 50)) for i in range(4)
        }
        df = make_df(spark, series)
        lo, hi = 1.0, 4.0
        rel = dynamic_window_relational(
            df, ["key"],
            start_expr=F.col("value") >= hi,
            stop_expr=F.col("value") < lo,
            agg="mean",
        )
        ex = dynamic_window_exact(
            df, ["key"],
            start_pred=lambda e: e[1] >= hi,
            stop_pred=lambda e: e[1] < lo,
            agg="mean",
        )
        for k in series:
            assert collect_series(rel, k) == collect_series(ex, k), k


class TestNullKeySeries:
    """A null key component is a series of its own on the sequential sweeps
    and predicate windows too (pandas ``groupby`` would drop it)."""

    SERIES = [
        [(1_000, 1.0, 1_000), (2_000, 3.0, 1_000), (3_000, 0.0, 500),
         (4_000, 5.0, 2_000), (6_000, 2.0, 1_000)],
        [(1_500, 2.0, 1_000), (2_500, 2.0, 1_000), (3_500, 0.5, 1_000),
         (4_500, 4.0, 500), (5_000, 3.0, 1_000)],
    ]

    @staticmethod
    def _sweep(entries, agg, sample_rate=None):
        out = [(t, float(a), d) for (t, _c, d), a in kwin.window_sweep(
            entries, 2_000, agg, sample_rate, use_closest=False) if a is not None]
        return kfitter.fit(out, compress=True)

    CALLS = {
        "median": (
            lambda df, keys: sliding_window_exact(df, keys, 2_000, "median"),
            lambda e: TestNullKeySeries._sweep(
                e, kwin.CollectAggregator(fn=lambda v: statistics.median(v) if v else None)),
        ),
        "strict_resample": (
            lambda df, keys: sliding_window_exact(
                df, keys, 2_000, "mean", sample_rate=500, use_closest=False),
            lambda e: TestNullKeySeries._sweep(e, kwin.MeanAggregator(), 500),
        ),
        "dynamic_window": (
            lambda df, keys: dynamic_window_exact(
                df, keys, start_pred=lambda e: e[1] >= 2, stop_pred=lambda e: e[1] < 1),
            lambda e: kwin.dynamic_window(
                e, lambda x: x[1] >= 2, lambda x: x[1] < 1, kwin.MeanAggregator),
        ),
    }

    @pytest.mark.parametrize("keys", [[("a",), (None,)], [("g", "a"), ("g", None)]],
                             ids=["one_column", "two_columns"])
    @pytest.mark.parametrize("call", sorted(CALLS))
    def test_null_key_series_kept(self, spark, call, keys):
        run, reference = self.CALLS[call]
        key_cols = ["key", "sub"][: len(keys[0])]
        rows = [(*k, t, v, d) for k, es in zip(keys, self.SERIES) for t, v, d in es]
        df = spark.createDataFrame(rows, ", ".join(
            [f"{c} string" for c in key_cols] + ["ts long", "value double", "validity long"]))
        got = {}
        for r in run(df, key_cols).collect():
            got.setdefault(tuple(r[c] for c in key_cols), []).append(
                (r["ts"], r["value"], r["validity"]))
        assert {k: sorted(v) for k, v in got.items()} == {
            k: reference(es) for k, es in zip(keys, self.SERIES)}

    def test_dynamic_window_rejects_unknown_agg(self, spark, series3):
        with pytest.raises(ValueError, match="unknown agg"):
            dynamic_window_exact(series3[2], ["key"], lambda e: True,
                                 lambda e: False, agg="median")


class TestMergeTimeSliced:
    @pytest.mark.parametrize("op", ["plus", "plus_strict", "fallback"])
    def test_sliced_equals_unsliced(self, spark, op):
        from scala_timeseries_lib_spark.operators.merge import (
            _merge_tagged_relational,
            _tag_sides_n,
        )

        rng = np.random.default_rng(53)
        left = {f"k{i}": kfitter.fit(random_series(rng, 60)) for i in range(3)}
        right = {f"k{i}": kfitter.fit(random_series(rng, 45)) for i in range(2)}
        ldf, rdf = make_df(spark, left), make_df(spark, right)
        plain = merge_series(ldf, rdf, ["key"], op=op)
        sliced = _merge_tagged_relational(
            _tag_sides_n([ldf, rdf], ["key"]), ["key"], op=op, time_slice=50_000
        )
        for k in left:
            assert collect_series(sliced, k) == collect_series(plain, k), (op, k)


class TestMergeCallableAndDefaults:
    def test_callable_op_matches_generic_kernel(self, spark):
        """DataFrame-level arbitrary merge op (TimeSeries.scala:261): a
        callable that also FILLS (None, None) holes -- the dangerous case
        for offset packing, where gaps between packed series regions must
        stay holes."""
        def op(a, b):
            if a is None and b is None:
                return -1.0  # fill holes inside the union span
            if a is None:
                return b * 2
            if b is None:
                return a * 3
            return a - b

        rng = np.random.default_rng(31)
        left = {f"k{i}": kfitter.fit(random_series(rng, 30)) for i in range(4)}
        right = {f"k{i}": kfitter.fit(random_series(rng, 25)) for i in range(3)}
        got = merge_series(
            make_df(spark, left), make_df(spark, right), ["key"], op=op,
            # one salt bucket -> all series packed together, maximum chance
            # of cross-region leakage if the masking were wrong
            **{},
        )
        for k in left:
            expected = kmerge.merge_entries(left[k], right.get(k, []), op)
            assert collect_series(got, k) == expected

    @pytest.mark.parametrize("ld,rd", [(None, None), (0.0, None),
                                       (None, 5.0), (2.0, 5.0)])
    def test_nonstrict_minus_defaults(self, spark, ld, rd):
        rng = np.random.default_rng(37)
        left = {f"k{i}": kfitter.fit(random_series(rng, 30)) for i in range(3)}
        right = {f"k{i}": kfitter.fit(random_series(rng, 25)) for i in range(2)}
        got = merge_series(
            make_df(spark, left), make_df(spark, right), ["key"],
            op="minus", left_default=ld, right_default=rd,
        )
        kop = lambda a, b: kmerge.op_non_strict_minus(a, b, ld, rd)
        for k in left:
            expected = kmerge.merge_entries(left[k], right.get(k, []), kop)
            assert collect_series(got, k) == expected

    def test_unknown_op_rejected(self, spark, series3):
        _raw, _fitted, df = series3
        with pytest.raises(ValueError, match="unknown op"):
            merge_series(df, df, ["key"], op="nope")


class TestOffsetPackingOverflowGuard:
    @pytest.fixture(autouse=True)
    def one_bucket(self, monkeypatch):
        """Every series in one salt bucket, so 2^61-span series really
        overflow the bucket's packed axis together."""
        from scala_timeseries_lib_spark.operators import _kernel

        monkeypatch.setattr(_kernel, "_default_buckets", lambda df: 1)

    def test_overflow_shape_falls_back_per_series(self, spark):
        """codes.max()*stride >= 2^62 must take the per-series path and
        still produce the exact merge (the packed axis would overflow)."""
        span = 1 << 61
        left = {
            "a": [(1_000, 1.0, 1_000), (span, 2.0, 1_000)],
            "b": [(2_000, 3.0, 1_000), (span - 5_000, 4.0, 1_000)],
            "c": [(1_500, 5.0, 2_000)],
        }
        right = {
            "a": [(1_500, 10.0, 1_000)],
            "b": [(span - 4_500, 20.0, 1_000)],
        }
        from scala_timeseries_lib_spark.operators.merge import _pack_codes

        codes = np.array([0, 0, 1, 1, 2])
        ts = np.array([1_000, span, 2_000, span - 5_000, 1_500], np.int64)
        dur = np.array([1_000, 1_000, 1_000, 1_000, 2_000], np.int64)
        packed, _s, _b = _pack_codes(codes, ts, dur)
        assert packed is None  # the guard really trips for this shape

        from scala_timeseries_lib_spark.operators.merge import _merge_series_kernel

        # a named op on the kernel route, and a Python-callable op
        for op in ("plus", kmerge.op_non_strict_plus):
            got = _merge_series_kernel(
                make_df(spark, left), make_df(spark, right), ["key"], op=op
            )
            for k in left:
                expected = kmerge.merge_entries(
                    left[k], right.get(k, []), kmerge.op_non_strict_plus
                )
                assert collect_series(got, k) == expected

    def test_zip_and_nary_overflow_fallback(self, spark):
        from scala_timeseries_lib_spark.operators.merge import (
            _merge_series_n_kernel,
            _strict_zip_kernel,
        )

        span = 1 << 61
        left = {
            "a": [(1_000, 1.0, 5_000), (span, 2.0, 1_000)],
            "b": [(2_000, 3.0, 1_000)],
        }
        right = {
            "a": [(1_500, 10.0, 1_000), (span + 200, 7.0, 500)],
            "b": [(2_200, 20.0, 1_000)],
        }
        ldf, rdf = make_df(spark, left), make_df(spark, right)

        zipped = _strict_zip_kernel(ldf, rdf, ["key"])
        za = [
            (r["ts"], r["a_value"], r["b_value"], r["validity"])
            for r in zipped.filter(zipped.key == "a").orderBy("ts").collect()
        ]
        assert za == [(1_500, 1.0, 10.0, 1_000), (span + 200, 2.0, 7.0, 500)]

        summed = _merge_series_n_kernel([ldf, rdf], ["key"], op="plus")
        for k in left:
            expected = kmerge.merge_entries(
                left[k], right.get(k, []), kmerge.op_non_strict_plus
            )
            assert collect_series(summed, k) == expected

    def test_window_ops_overflow_fallback(self, spark):
        """The sweep (plain and resampled), rolling and the sampler on the
        same 2^61-span shape match their sequential references."""
        from scala_timeseries_lib_spark.kernel import window as kwin
        from scala_timeseries_lib_spark.operators.window import (
            _sliding_window_exact_kernel,
            rolling_values,
            sample_closest,
            sliding_window_exact,
        )

        span, rate = 1 << 61, 1 << 58
        series = {
            k: [(1_000 + i, float(i), 5_000), (span + 7 * i, 2.0, 1_000 + i),
                (span + 9_000, float(i % 2), 2_000)]
            for i, k in enumerate("abc")
        }
        df = make_df(spark, series)

        def rounded(rows):
            return [(t, round(v, 9), d) for t, v, d in rows]

        def seq_sweep(entries, agg, sample_rate=None):
            out = [(t, float(a), d) for (t, _c, d), a in kwin.window_sweep(
                entries, 3_000, agg, sample_rate) if a is not None]
            return rounded(kfitter.fit(out, compress=True))

        cases = [
            (_sliding_window_exact_kernel(df, ["key"], 3_000, "sum"),
             lambda e: seq_sweep(e, kwin.SumAggregator())),
            (sliding_window_exact(df, ["key"], 3_000, "mean", sample_rate=rate),
             lambda e: seq_sweep(e, kwin.MeanAggregator(), rate)),
            (rolling_values(df, ["key"], 4_000, agg="min"),
             lambda e: kwin.rolling(e, min, 4_000)),
            (sample_closest(df, ["key"], rate),
             lambda e: ksample.sample(e, e[0][0], rate, use_closest=True)),
        ]
        for got, reference in cases:
            for k, entries in series.items():
                assert rounded(collect_series(got, k)) == rounded(reference(entries))

    def test_single_series_overflow_raises(self, spark):
        from scala_timeseries_lib_spark.operators.window import (
            _sliding_window_exact_kernel,
        )

        df = make_df(spark, {"a": [(0, 1.0, 1_000), (1 << 62, 2.0, 1_000)]})
        got = _sliding_window_exact_kernel(df, ["key"], 3_000, "sum")
        with pytest.raises(Exception, match=r"ValueError: .*2\^62"):
            got.collect()


class TestEntityCatalog:
    def test_labels_ids_and_unit_mappers(self):
        from scala_timeseries_lib_spark.entity import (
            StaticUnitMapper,
            SuffixUnitMapper,
            TsId,
            TsLabel,
        )

        lbl = TsLabel("temperature_c")
        assert lbl.unit(SuffixUnitMapper()) == "c"
        assert TsLabel("power").unit(SuffixUnitMapper()) is None
        assert lbl.unit(StaticUnitMapper({"temperature_c": "celsius"})) == "celsius"
        tsid = TsId("turbine-7", lbl)
        assert tsid.key() == ("turbine-7", "temperature_c")

    def test_with_units_relational(self, spark):
        from scala_timeseries_lib_spark.entity import with_units

        df = spark.createDataFrame(
            [("e1", "power"), ("e1", "temperature_c"), ("e2", "unknown")],
            "entity string, label string",
        )
        got = {
            (r.entity, r.label): r.unit
            for r in with_units(df, "label",
                                {"power": "kW", "temperature_c": "c"}).collect()
        }
        assert got == {("e1", "power"): "kW", ("e1", "temperature_c"): "c",
                       ("e2", "unknown"): None}
        # no mapping -> null column, plan stays join-free
        assert with_units(df, "label", {}).select("unit").distinct().collect()[0][0] is None


class TestAsofJoin:
    def test_semantics_and_payload_carry(self, spark):
        from scala_timeseries_lib_spark.operators.series_ops import asof_join

        right = make_df(spark, {"k": [(10, 1.0, 5), (20, 2.0, 5)]})
        left = spark.createDataFrame(
            [("k", 12, "a"), ("k", 16, "b"), ("k", 25, "c"), ("x", 5, "d")],
            "key string, ts long, tag string",
        )
        got = {(r.key, r.ts): (r.tag, r.value)
               for r in asof_join(left, right, ["key"]).collect()}
        assert got == {
            ("k", 12): ("a", 1.0),   # inside [10, 15)
            ("k", 16): ("b", None),  # latest entry expired at 15
            ("k", 25): ("c", None),  # entry [20, 25) expired exactly at 25
            ("x", 5): ("d", None),   # key absent on the right
        }
        # plain last-observation (no validity check)
        got2 = {(r.key, r.ts): r.value
                for r in asof_join(left, right, ["key"],
                                   check_validity=False).collect()}
        assert got2 == {("k", 12): 1.0, ("k", 16): 1.0, ("k", 25): 2.0,
                        ("x", 5): None}

    def test_equal_ts_is_inclusive(self, spark):
        from scala_timeseries_lib_spark.operators.series_ops import asof_join

        right = make_df(spark, {"k": [(10, 7.0, 5)]})
        left = spark.createDataFrame([("k", 10)], "key string, ts long")
        assert asof_join(left, right, ["key"]).collect()[0].value == 7.0


class TestIntervalJoin:
    def test_overlap_pairs_exactly_once(self, spark):
        """A pair whose overlap spans MANY blocking buckets must be emitted
        exactly once (attributed to the bucket holding the overlap start)."""
        from scala_timeseries_lib_spark.operators.series_ops import interval_join

        left = make_df(spark, {"k": [(1_000, 1.0, 50_000), (100_000, 2.0, 500)]})
        right = make_df(spark, {"k": [(5_000, 9.0, 40_000),   # 45-bucket overlap
                                      (100_400, 8.0, 50),     # inside entry 2
                                      (200_000, 7.0, 100)]})  # no overlap
        rows = interval_join(left, right, ["key"], bucket_ms=1_000).collect()
        got = {(r.l_ts, r.r_ts): (r.overlap_start, r.overlap_ms) for r in rows}
        assert got == {
            (1_000, 5_000): (5_000, 40_000),
            (100_000, 100_400): (100_400, 50),
        }
        assert len(rows) == 2  # no duplicate emissions across buckets

    def test_touching_intervals_do_not_overlap(self, spark):
        from scala_timeseries_lib_spark.operators.series_ops import interval_join

        left = make_df(spark, {"k": [(0, 1.0, 100)]})
        right = make_df(spark, {"k": [(100, 2.0, 100)]})
        assert interval_join(left, right, ["key"], bucket_ms=50).count() == 0


class TestHistogramSketch:
    def test_reaggregation_is_exact_and_median_matches_python(self, spark, series3):
        _, fitted, df = series3
        bins, lo, hi, step = 16, 0.0, 5.0, 60_000
        fine = ops.rollup_histogram(df, ["key"], step, bins=bins, lo=lo, hi=hi)
        coarse_direct = ops.rollup_histogram(
            df, ["key"], 5 * step, bins=bins, lo=lo, hi=hi
        )
        coarse_re = ops.reaggregate_histogram(fine, ["key"], 5 * step, bins=bins)
        a = {(r["key"], r["bucket"]): (list(r["hist"]), r["support_ms"])
             for r in coarse_direct.collect()}
        b = {(r["key"], r["bucket"]): (list(r["hist"]), r["support_ms"])
             for r in coarse_re.collect()}
        assert a == b  # integer counts -> EXACT reaggregation

        med = {
            (r["key"], r["bucket"]): r["median_approx"]
            for r in ops.histogram_median(
                coarse_re, bins=bins, lo=lo, hi=hi
            ).collect()
        }
        width = (hi - lo) / bins
        for (k, bucket), (hist, support) in a.items():
            cum, chosen = 0, None
            for i, w in enumerate(hist):
                cum += w
                if chosen is None and cum >= support / 2.0:
                    chosen = i
            assert med[(k, bucket)] == pytest.approx(lo + (chosen + 0.5) * width)

    def test_reaggregation_respects_nonzero_origin(self, spark, series3):
        """Tiers anchored at origin != 0 must coarsen to origin-aligned
        buckets, mirroring reaggregate_rollup's anchoring."""
        _, _, df = series3
        bins, lo, hi, step, origin = 8, 0.0, 5.0, 60_000, 17_000
        fine = ops.rollup_histogram(
            df, ["key"], step, bins=bins, lo=lo, hi=hi, origin=origin
        )
        direct = ops.rollup_histogram(
            df, ["key"], 5 * step, bins=bins, lo=lo, hi=hi, origin=origin
        )
        re = ops.reaggregate_histogram(
            fine, ["key"], 5 * step, bins=bins, origin=origin
        )
        a = {(r["key"], r["bucket"]): (list(r["hist"]), r["support_ms"])
             for r in direct.collect()}
        b = {(r["key"], r["bucket"]): (list(r["hist"]), r["support_ms"])
             for r in re.collect()}
        assert a == b


def test_asof_join_rejects_output_collision(spark):
    from scala_timeseries_lib_spark.operators.series_ops import asof_join

    right = make_df(spark, {"k": [(10, 1.0, 5)]})
    left = spark.createDataFrame([("k", 12, 3.0)],
                                 "key string, ts long, value double")
    with pytest.raises(ValueError, match="collides"):
        asof_join(left, right, ["key"])
    # explicit output name resolves it
    r = asof_join(left, right, ["key"], output_col="right_value").collect()[0]
    assert (r.value, r.right_value) == (3.0, 1.0)


def test_grouped_window_kernels_reject_unfitted_input(spark):
    from scala_timeseries_lib_spark.kernel import window as kwin

    codes = np.array([0, 0], np.int64)
    ts = np.array([0, 10], np.int64)
    val = np.array([1.0, 2.0])
    dur = np.array([100, 5], np.int64)  # first entry overlaps the second
    with pytest.raises(ValueError, match="fitted"):
        kwin.window_sweep_grouped(codes, ts, val, dur, 50, agg="sum")
    with pytest.raises(ValueError, match="fitted"):
        kwin.rolling_grouped(codes, ts, val, dur, 50, agg="sum")
