"""Golden fixtures: integrals (NumericTimeSeriesSpec.scala:71-292), sampling
(TimeSeriesSpec.scala:382-507), rollup/bucketing (TimeSeriesSpec.scala:509-523,
TimeBucketerSpec.scala), sliding windows (WindowSliderSpec.scala,
BasicAggregatorsSpec.scala). See FIXTURES.md B.5-B.8."""

import math

import numpy as np

import pytest

from scala_timeseries_lib_spark.kernel.bucket import (
    bucket_entries,
    bucket_entries_maxn,
    bucket_generator,
    group_entries,
    rollup,
    split_at_buckets,
)
from scala_timeseries_lib_spark.kernel.integral import (
    sliding_integral,
    step_integral,
)
from scala_timeseries_lib_spark.kernel.sample import (
    fill,
    sample,
    split_longer_than,
)
from scala_timeseries_lib_spark.kernel import window as kwin
from scala_timeseries_lib_spark.kernel.window import (
    CollectAggregator,
    IntegralAggregator,
    MaxAggregator,
    MeanAggregator,
    MinAggregator,
    StdAggregator,
    SumAggregator,
    dynamic_window,
    sliding_window,
    window_sweep,
)


class TestStepIntegral:
    @pytest.mark.parametrize(
        "entries,expected",
        [
            ([(1, 2, 3000)], [(1, 6.0, 3000)]),
            (
                [(0, 1, 10000), (10000, 2, 10000)],
                [(0, 10.0, 10000), (10000, 30.0, 10000)],
            ),
            (
                [(0, 1, 10000), (10000, 0, 10000), (20000, -1, 10000)],
                [(0, 10.0, 10000), (10000, 10.0, 10000), (20000, 0.0, 10000)],
            ),
            (
                [(0, 1, 1000), (1000, 2, 10000)],
                [(0, 1.0, 1000), (1000, 21.0, 10000)],
            ),
        ],
    )
    def test_goldens_ms(self, entries, expected):
        assert step_integral(entries, "ms") == expected


class TestSlidingIntegral:
    @pytest.mark.parametrize(
        "entries,window,rate,expected",
        [
            ([(10, 1, 10)], 10, 10, [(10, 10.0, 10)]),
            ([(10, 1, 10)], 20, 10, [(10, 10.0, 10)]),
            (
                [(10, 1, 5), (15, 2, 10)],
                3,
                3,
                [(10, 3.0, 3), (13, 6.0, 3), (16, 9.0, 3), (19, 12.0, 3), (22, 12.0, 3)],
            ),
            (
                [(10, 1, 10), (20, 2, 5)],
                9,
                5,
                [(10, 5.0, 5), (15, 10.0, 5), (20, 20.0, 4), (24, 15.0, 1)],
            ),
            (
                [(10, 1, 10), (20, 2, 2), (22, 3, 10)],
                12,
                8,
                [(10, 8.0, 8), (18, 24.0, 8), (26, 48.0, 4), (30, 40.0, 4)],
            ),
            (
                [(10, 1, 5), (17, 2, 10)],
                12,
                5,
                [(10, 5.0, 5), (15, 15.0, 5), (20, 25.0, 5), (25, 35.0, 2), (27, 30.0, 3)],
            ),
        ],
    )
    def test_goldens_seconds(self, entries, window, rate, expected):
        assert sliding_integral(entries, window, rate, "s") == expected

    def test_window_smaller_than_rate_throws(self):
        with pytest.raises(ValueError):
            sliding_integral([(10, 1, 10)], 5, 10, "s")


class TestSampling:
    def test_strict(self):
        assert sample([(1, 0.123, 10)], 1, 8, use_closest=False) == [
            (1, 0.123, 8),
            (9, 0.123, 8),
        ]

    def test_closest_splits_long_entry(self):
        # (10,.789,100) sampled (5,25,closest): sample points 5,30,55,80,105
        got = sample([(10, 0.789, 100)], 5, 25, use_closest=True)
        assert got == [(5, 0.789, 25), (30, 0.789, 25), (55, 0.789, 25), (80, 0.789, 25), (105, 0.789, 25)]

    def test_closest_picks_nearest_start(self):
        # TimeSeriesSpec.scala:493-507 style: jittered entries on a 10-grid
        series = [(4, 0.123, 7), (14, 0.234, 8), (23, 0.345, 8)]
        got = sample(series, 0, 10, use_closest=True, compress=True)
        assert got == [(0, 0.123, 10), (10, 0.234, 10), (20, 0.345, 20)]

    def test_split_longer_than(self):
        assert split_longer_than([(0, 7.0, 25)], 10) == [
            (0, 7.0, 10),
            (10, 7.0, 10),
            (20, 7.0, 5),
        ]

    def test_fill(self):
        # holes replaced by fill-value entries spanning exactly the gap
        assert fill([(1, 1.0, 5), (10, 2.0, 5)], 9.0) == [
            (1, 1.0, 5),
            (6, 9.0, 4),
            (10, 2.0, 5),
        ]
        # with compression, fill value equal to a neighbor merges
        assert fill([(1, 1.0, 5), (10, 2.0, 5)], 1.0) == [
            (1, 1.0, 9),
            (10, 2.0, 5),
        ]


class TestBucketRollup:
    def test_bucket_goldens(self):
        got = bucket_entries(bucket_generator(0, 10), [(10, 1, 10), (20, 2, 5), (25, 3, 5)])
        assert got == [
            (0, []),
            (10, [(10, 1, 10)]),
            (20, [(20, 2, 5), (25, 3, 5)]),
            (30, []),
        ]

    def test_bucket_boundary_split(self):
        got = bucket_entries(bucket_generator(1, 10), [(1, 42, 15)])
        assert got == [(1, [(1, 42, 10)]), (11, [(11, 42, 5)]), (21, [])]

    def test_bucket_requires_start_before_first(self):
        with pytest.raises(ValueError):
            bucket_entries(bucket_generator(10, 10), [(0, 1, 5)])

    ENTRIES5 = [(0, 10, 80), (100, 22, 20), (120, 3, 40), (160, -7, 20), (180, -3, 20)]

    def test_bucket_maxn(self):
        got = bucket_entries_maxn(self.ENTRIES5, bucket_generator(0, 100), 2)
        assert got == [
            (0, [(0, 10, 80)], 100),
            (100, [(100, 22, 20), (120, 3, 40)], 60),
            (160, [(160, -7, 20), (180, -3, 20)], 40),
        ]
        got = bucket_entries_maxn(self.ENTRIES5, bucket_generator(0, 100), 100)
        assert got == [
            (0, [(0, 10, 80)], 100),
            (100, self.ENTRIES5[1:], 100),
        ]

    def test_group_entries(self):
        got = group_entries(self.ENTRIES5, 2)
        assert [g[0] for g in got] == [0, 120, 180]
        assert got[0][1] == self.ENTRIES5[:2]
        assert got[2][1] == self.ENTRIES5[4:]

    def test_rollup_goldens(self):
        series = [(0, 0.0, 10), (10, 1.0, 10), (20, 2.0, 10)]
        first = lambda es: es[0][1]
        assert rollup(series, bucket_generator(0, 10), first) == series
        # result entries get compressed by the builder, like the reference's
        # TimeSeries(...) expected value (TimeSeriesSpec.scala:517-519)
        assert rollup(series, bucket_generator(-5, 10), first) == [
            (-5, 0.0, 20),
            (15, 1.0, 10),
            (25, 2.0, 10),
        ]

    def test_rollup_refuses_late_buckets(self):
        with pytest.raises(ValueError):
            rollup([(0, 0.0, 10)], bucket_generator(10, 10), lambda es: 1)

    def test_split_at_buckets_matches_bucket_entries(self):
        series = [(4, 1.0, 20), (30, 2.0, 45)]
        split = split_at_buckets(series, 10, origin=0)
        via_buckets = [
            e for _, es in bucket_entries(bucket_generator(0, 10), series) for e in es
        ]
        assert split == via_buckets


class TestWindowSweep:
    def test_window_content_emission_w1(self):
        got = [
            (ts, tuple(v for _, v, _ in content), validity)
            for (ts, content, validity), _ in window_sweep(
                [(1, "A", 100), (200, "B", 50), (300, "C", 30)], 1, CollectAggregator()
            )
        ]
        assert got == [
            (1, ("A",), 101),
            (102, (), 98),
            (200, ("B",), 51),
            (251, (), 49),
            (300, ("C",), 30),
        ]

    TRI_CONT = [(1, "A", 100), (101, "B", 49), (150, "C", 30)]

    @pytest.mark.parametrize(
        "width,expected",
        [
            # WindowSliderSpec.scala "contiguous" cases, w = 1 / 48 / 49 / 50
            (1, [(1, ("A",), 100), (101, ("A", "B"), 1), (102, ("B",), 48),
                 (150, ("B", "C"), 1), (151, ("C",), 29)]),
            (48, [(1, ("A",), 100), (101, ("A", "B"), 48), (149, ("B",), 1),
                  (150, ("B", "C"), 30)]),
            (49, [(1, ("A",), 100), (101, ("A", "B"), 49), (150, ("B", "C"), 30)]),
            (50, [(1, ("A",), 100), (101, ("A", "B"), 49), (150, ("A", "B", "C"), 1),
                  (151, ("B", "C"), 29)]),
        ],
    )
    def test_window_content_emission_contiguous(self, width, expected):
        got = [
            (ts, tuple(v for _, v, _ in content), validity)
            for (ts, content, validity), _ in window_sweep(
                self.TRI_CONT, width, CollectAggregator()
            )
        ]
        assert got == expected

    def test_sliding_window_sum(self):
        got = sliding_window([(0, 1.0, 10), (10, 2.0, 10)], 5, SumAggregator())
        assert got == [(0, 1.0, 10), (10, 3.0, 5), (15, 2.0, 5)]

    def test_dynamic_window_sine(self):
        # WindowSliderSpec.scala:493-530: sine entries step 30 deg, start when
        # value==1, stop when value==-1 -> windows at ts 90,450,810, each
        # validity 180, mean ~= 0.166
        entries = [(30 * k, math.sin(math.radians(30 * k)), 30) for k in range(36)]

        def start(e):
            return abs(e[1] - 1.0) < 1e-9

        def stop(e):
            return abs(e[1] + 1.0) < 1e-9

        got = dynamic_window(entries, start, stop, MeanAggregator)
        assert [(ts, d) for ts, _, d in got] == [(90, 180), (450, 180), (810, 180)]
        assert all(abs(v - 0.166) < 1e-3 for _, v, _ in got)

    def test_dynamic_window_start_and_stop_both_true(self):
        got = dynamic_window(
            [(0, 1.0, 10)], lambda e: True, lambda e: True, MeanAggregator
        )
        assert got == []


class TestAggregators:
    def test_time_weighted_mean(self):
        agg = MeanAggregator()
        for e in [(0, 20.0, 5), (5, -10.0, 10), (15, 7.0, 25)]:
            agg.add(e)
        assert agg.current() == pytest.approx(4.375)
        agg.drop((0, 20.0, 5))
        assert agg.current() == pytest.approx((-10.0 * 10 + 7.0 * 25) / 35)

    def test_time_weighted_std(self):
        # BasicAggregatorsSpec.scala:69-90: biased std sequence
        # 14.142 (e1+e2), 9.299 (+e3), 7.679 (-e1), within +-0.001
        agg = StdAggregator()
        e1, e2, e3 = (0, 20.0, 5), (5, -10.0, 10), (15, 7.0, 25)
        agg.add(e1)
        agg.add(e2)
        assert agg.current() == pytest.approx(14.142, abs=1e-3)
        agg.add(e3)
        assert agg.current() == pytest.approx(9.299, abs=1e-3)
        agg.drop(e1)
        assert agg.current() == pytest.approx(7.679, abs=1e-3)

    def test_integral_aggregator(self):
        a = IntegralAggregator("s")
        a.add((0, 10.0, 1))
        assert a.current() == pytest.approx(10.0)
        b = IntegralAggregator("ms")
        b.add((0, 10.0, 100))
        assert b.current() == pytest.approx(1.0)

    def test_min_max(self):
        mn, mx = MinAggregator(), MaxAggregator()
        window = [(0, 3.0, 1), (1, 1.0, 1), (2, 2.0, 1)]
        for e in window:
            mn.add(e)
            mx.add(e)
        assert mn.current() == 1.0
        assert mx.current() == 3.0
        mn.drop(window[0])
        mx.drop(window[0])
        assert mn.current() == 1.0
        assert mx.current() == 2.0


class TestGroupedSweep:
    """window_sweep_grouped (vectorized whole-bucket sweep) vs the
    sequential per-series sweep."""

    @pytest.mark.parametrize("agg,mk", [
        ("sum", lambda: kwin.SumAggregator()),
        ("min", lambda: kwin.MinAggregator()),
        ("max", lambda: kwin.MaxAggregator()),
    ])
    def test_raw_entries_match(self, agg, mk):
        from scala_timeseries_lib_spark.kernel.fitter import fit

        rng = np.random.default_rng(13)
        width = 5000
        series = {}
        for c in range(6):
            n = int(rng.integers(1, 80))
            ts = 1000 + np.cumsum(rng.integers(1, 3000, n)).astype(np.int64)
            val = rng.normal(0, 10, n).round(2)
            dur = rng.integers(1, 2500, n).astype(np.int64)
            series[c] = fit(
                list(zip(ts.tolist(), val.tolist(), dur.tolist())),
                compress=False,
            )
        codes = np.concatenate(
            [np.full(len(v), c, np.int64) for c, v in series.items()]
        )
        ts = np.concatenate([[e[0] for e in v] for v in series.values()])
        val = np.concatenate([[e[1] for e in v] for v in series.values()])
        dur = np.concatenate([[e[2] for e in v] for v in series.values()])
        oc, ot, ov, od = kwin.window_sweep_grouped(
            codes, ts, val, dur, width, agg=agg
        )
        for c, ents in series.items():
            want = [
                (t, round(a, 6), d)
                for (t, _w, d), a in kwin.window_sweep(ents, width, mk())
                if a is not None
            ]
            m = oc == c
            got = [
                (t, round(v, 6), d)
                for t, v, d in zip(ot[m].tolist(), ov[m].tolist(), od[m].tolist())
            ]
            assert got == want, (agg, c)

    @pytest.mark.parametrize("agg,mk,tol", [
        ("mean", lambda: kwin.MeanAggregator(), 0),
        ("integral", lambda: kwin.IntegralAggregator("ms"), 0),
        ("std", lambda: kwin.StdAggregator(), 1e-5),  # m2-m1^2 cancellation
    ])
    def test_resampled_time_aware_match(self, agg, mk, tol):
        from scala_timeseries_lib_spark.kernel.fitter import fit
        from scala_timeseries_lib_spark.kernel.sample import (
            sample,
            sample_arrays_closest_grouped,
        )

        rng = np.random.default_rng(17)
        width, rate = 5000, 1000
        series = {}
        for c in range(6):
            n = int(rng.integers(1, 80))
            ts = 1000 + np.cumsum(rng.integers(1, 3000, n)).astype(np.int64)
            val = rng.normal(0, 10, n).round(2)
            dur = rng.integers(1, 2500, n).astype(np.int64)
            series[c] = fit(
                list(zip(ts.tolist(), val.tolist(), dur.tolist())),
                compress=False,
            )
        codes = np.concatenate(
            [np.full(len(v), c, np.int64) for c, v in series.items()]
        )
        ts = np.concatenate([[e[0] for e in v] for v in series.values()])
        val = np.concatenate([[e[1] for e in v] for v in series.values()])
        dur = np.concatenate([[e[2] for e in v] for v in series.values()])
        rc, rt, rv, rd = sample_arrays_closest_grouped(
            codes, np.asarray(ts, np.int64), val, np.asarray(dur, np.int64),
            rate,
        )
        oc, ot, ov, od = kwin.window_sweep_grouped(
            rc, rt, rv, rd, width, agg=agg
        )
        for c, ents in series.items():
            want = [
                (t, a, d)
                for (t, _w, d), a in kwin.window_sweep(
                    ents, width, mk(), sample_rate=rate
                )
                if a is not None
            ]
            m = oc == c
            got = list(zip(ot[m].tolist(), ov[m].tolist(), od[m].tolist()))
            assert len(got) == len(want), (agg, c)
            for (gt, gv, gd), (wt, wv, wd) in zip(got, want):
                assert (gt, gd) == (wt, wd)
                assert abs(gv - wv) <= max(tol, 1e-9 * max(1.0, abs(wv))), (
                    agg, c, gv, wv,
                )

    def test_overflow_returns_none_and_rejects_bad_agg(self):
        n_series = 130
        codes = np.r_[np.array([0, 0], np.int64),
                      np.arange(1, n_series, dtype=np.int64)]
        ts = np.r_[np.array([1000, 1 << 55], np.int64),
                   np.full(n_series - 1, 2000, np.int64)]
        val = np.ones(codes.size)
        dur = np.full(codes.size, 10, np.int64)
        assert kwin.window_sweep_grouped(codes, ts, val, dur, 100) is None
        with pytest.raises(ValueError, match="unsupported"):
            kwin.window_sweep_grouped(codes[:1], ts[:1], val[:1], dur[:1],
                                      100, agg="median")
        with pytest.raises(ValueError, match="positive"):
            kwin.window_sweep_grouped(codes[:1], ts[:1], val[:1], dur[:1], 0)


class TestRolling:
    """NumericTimeSeries.rolling: per-entry trailing-window aggregate over
    values (current + entries overlapping [ts-w, ts)); grouped kernel vs
    the sequential twin, plus a hand-checked fixture
    (NumericTimeSeriesSpec rolling semantics)."""

    def test_hand_checked(self):
        # windows: entry at 30 sees the entry at 0 (0+25 > 30-20? 25 > 10 ok)
        ents = [(0, 1.0, 25), (30, 2.0, 10), (100, 4.0, 10)]
        got = kwin.rolling(ents, sum, 20, compress=False)
        assert got == [(0, 1.0, 25), (30, 3.0, 10), (100, 4.0, 10)]
        # window 200 sees everything
        got = kwin.rolling(ents, max, 200, compress=False)
        assert got == [(0, 1.0, 25), (30, 2.0, 10), (100, 4.0, 10)]
        got = kwin.rolling(ents, sum, 200, compress=False)
        assert got == [(0, 1.0, 25), (30, 3.0, 10), (100, 7.0, 10)]

    @pytest.mark.parametrize("agg,fn", [
        ("sum", sum), ("mean", lambda v: sum(v) / len(v)),
        ("min", min), ("max", max),
    ])
    def test_grouped_matches_sequential(self, agg, fn):
        from scala_timeseries_lib_spark.kernel.fitter import fit

        rng = np.random.default_rng(29)
        series = {}
        for c in range(5):
            n = int(rng.integers(1, 60))
            ts = 1000 + np.cumsum(rng.integers(1, 2000, n)).astype(np.int64)
            val = rng.normal(0, 5, n).round(2)
            dur = rng.integers(1, 1800, n).astype(np.int64)
            series[c] = fit(
                list(zip(ts.tolist(), val.tolist(), dur.tolist())),
                compress=False,
            )
        codes = np.concatenate(
            [np.full(len(v), c, np.int64) for c, v in series.items()]
        )
        ts = np.concatenate([[e[0] for e in v] for v in series.values()])
        val = np.concatenate([[e[1] for e in v] for v in series.values()])
        dur = np.concatenate([[e[2] for e in v] for v in series.values()])
        oc, ot, ov, od = kwin.rolling_grouped(
            codes, ts, val, dur, 4000, agg=agg
        )
        for c, ents in series.items():
            want = kwin.rolling(ents, fn, 4000, compress=False)
            m = oc == c
            got = list(zip(ot[m].tolist(), ov[m].tolist(), od[m].tolist()))
            assert [(t, d) for t, _v, d in got] == [(t, d) for t, _v, d in want]
            for (_gt, gv, _gd), (_wt, wv, _wd) in zip(got, want):
                assert abs(gv - wv) <= 1e-9 * max(1.0, abs(wv))
