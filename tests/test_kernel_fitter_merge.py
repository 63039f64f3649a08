"""Golden fixtures from the reference: fitter (TSEntryFitterSpec.scala:14-135)
and merges (TimeSeriesMergerSpec.scala:27-336, NumericTimeSeriesSpec.scala:16-69,
StrictZipSpec.scala:8-39). See FIXTURES.md B.1/B.3/B.4."""

import numpy as np
import pytest

from scala_timeseries_lib_spark.kernel.fitter import (
    fit,
    fit_arrays,
    is_domain_continuous,
)
from scala_timeseries_lib_spark.kernel.merge import (
    merge_apply_numeric,
    merge_entries,
    merge_entries_n,
    op_fallback,
    op_non_strict_minus,
    op_non_strict_plus,
    op_strict,
    op_strict_zip,
)


class TestFitter:
    @pytest.mark.parametrize(
        "entries,compress,expected",
        [
            ([(1, 77, 10), (5, 77, 10)], True, [(1, 77, 14)]),
            ([(1, 77, 4), (5, 77, 5)], True, [(1, 77, 9)]),
            ([(1, 77, 5), (10, 77, 10)], True, [(1, 77, 5), (10, 77, 10)]),
            ([(1, 77, 20), (10, 77, 10)], False, [(1, 77, 9), (10, 77, 10)]),
            # shrink on merge (TSEntry.scala:187-195 extension < 0)
            ([(10, 77, 10), (12, 77, 2)], True, [(10, 77, 4)]),
        ],
    )
    def test_goldens(self, entries, compress, expected):
        assert fit(entries, compress) == expected
        ts, val, validity = fit_arrays(
            [e[0] for e in entries],
            [float(e[1]) for e in entries],
            [e[2] for e in entries],
            compress,
        )
        assert list(zip(ts, val, validity)) == [
            (t, float(v), d) for t, v, d in expected
        ]

    def test_non_chronological_throws(self):
        with pytest.raises(ValueError):
            fit([(5, 77, 5), (1, 77, 4)])
        with pytest.raises(ValueError):
            fit_arrays([5, 1], [77.0, 77.0], [5, 4])

    def test_domain_continuity(self):
        assert is_domain_continuous([1, 5], [4, 5])  # contiguous
        assert is_domain_continuous([1, 5], [10, 5])  # overlap
        assert not is_domain_continuous([1, 10], [5, 5])  # gap

    def test_random_equivalence_fit_vs_arrays(self):
        rng = np.random.default_rng(7)
        for _ in range(50):
            n = int(rng.integers(1, 60))
            ts = np.cumsum(rng.integers(1, 10, n))
            validity = rng.integers(1, 12, n)
            value = rng.integers(0, 3, n).astype(float)
            for compress in (True, False):
                seq = fit(list(zip(ts, value, validity)), compress)
                t2, v2, d2 = fit_arrays(ts, value, validity, compress)
                assert seq == list(zip(t2, v2, d2))


def nsplus(a, b):
    return op_non_strict_plus(a, b)


class TestMergeGoldens:
    CASES = [
        (
            [(1, 2.0, 20)],
            [(5, 1.0, 10)],
            [(1, 2.0, 4), (5, 3.0, 10), (15, 2.0, 6)],
        ),
        (
            [(1, 2.0, 20)],
            [(5, 1.0, 5), (10, 2.0, 5)],
            [(1, 2.0, 4), (5, 3.0, 5), (10, 4.0, 5), (15, 2.0, 6)],
        ),
        (
            [(1, 2.0, 20)],
            [(5, 1.0, 5), (11, 2.0, 5)],
            [(1, 2.0, 4), (5, 3.0, 5), (10, 2.0, 1), (11, 4.0, 5), (16, 2.0, 5)],
        ),
        (
            [(1, 2.0, 20)],
            [(0, 1.0, 5), (5, 2.0, 5), (16, 3.0, 10)],
            [
                (0, 1.0, 1),
                (1, 3.0, 4),
                (5, 4.0, 5),
                (10, 2.0, 6),
                (16, 5.0, 5),
                (21, 3.0, 5),
            ],
        ),
        (
            [(1, 2.0, 20)],
            [(-10, -1.0, 10), (0, 1.0, 5), (6, 2.0, 5), (16, 3.0, 10), (26, 4.0, 10)],
            [
                (-10, -1.0, 10),
                (0, 1.0, 1),
                (1, 3.0, 4),
                (5, 2.0, 1),
                (6, 4.0, 5),
                (11, 2.0, 5),
                (16, 5.0, 5),
                (21, 3.0, 5),
                (26, 4.0, 10),
            ],
        ),
    ]

    @pytest.mark.parametrize("a,b,expected", CASES)
    def test_non_strict_plus(self, a, b, expected):
        assert merge_entries(a, b, nsplus) == expected
        # commutativity (TimeSeriesMergerSpec.scala:32-36)
        assert merge_entries(b, a, nsplus) == expected

    @pytest.mark.parametrize("a,b,expected", CASES)
    def test_vectorized_matches(self, a, b, expected):
        ts, val, validity = merge_apply_numeric(
            [e[0] for e in a], [e[1] for e in a], [e[2] for e in a],
            [e[0] for e in b], [e[1] for e in b], [e[2] for e in b],
            "plus",
        )
        assert [(int(t), float(v), int(d)) for t, v, d in zip(ts, val, validity)] == expected

    def test_compression_after_merge(self):
        left = [(-20, 1.0, 10), (-10, 2.0, 10), (0, 3.0, 10), (10, 1.0, 10), (20, 0.0, 10)]
        right = [(-20, -1.0, 10), (-10, -2.0, 10), (0, 3.0, 10), (10, 1.0, 10), (20, 2.0, 10)]
        assert merge_entries(left, right, nsplus) == [
            (-20, 0.0, 20),
            (0, 6.0, 10),
            (10, 2.0, 20),
        ]

    def test_all_four_cases_string_op(self):
        def op(a, b):
            if a is None and b is None:
                return "none"
            return f"{a or ''}|{b or ''}"

        a = [(15, "a1", 10), (35, "a2", 10)]
        b = [(10, "b1", 10), (30, "b2", 10)]
        assert merge_entries(a, b, op) == [
            (10, "|b1", 5),
            (15, "a1|b1", 5),
            (20, "a1|", 5),
            (25, "none", 5),
            (30, "|b2", 5),
            (35, "a2|b2", 5),
            (40, "a2|", 5),
        ]

    def test_hole_only_op(self):
        a = [(1, 1, 5), (10, 2, 10)]
        b = [(2, 3, 4), (11, 4, 6)]

        def op(x, y):
            return "Y" if x is None and y is None else None

        assert merge_entries(a, b, op) == [(6, "Y", 4)]


class TestNumericOps:
    tsa = [(1, 1.0, 10), (12, 2.0, 10)]
    tsb = [(6, 3.0, 10)]

    def test_strict_plus(self):
        assert merge_entries(self.tsa, self.tsb, op_strict(lambda a, b: a + b)) == [
            (6, 4.0, 5),
            (12, 5.0, 4),
        ]

    def test_non_strict_plus(self):
        assert merge_entries(self.tsa, self.tsb, nsplus) == [
            (1, 1.0, 5),
            (6, 4.0, 5),
            (11, 3.0, 1),
            (12, 5.0, 4),
            (16, 2.0, 6),
        ]

    def test_strict_minus(self):
        assert merge_entries(self.tsa, self.tsb, op_strict(lambda a, b: a - b)) == [
            (6, -2.0, 5),
            (12, -1.0, 4),
        ]
        assert merge_entries(self.tsb, self.tsa, op_strict(lambda a, b: a - b)) == [
            (6, 2.0, 5),
            (12, 1.0, 4),
        ]

    def test_minus_with_right_default(self):
        op = lambda a, b: op_non_strict_minus(a, b, right_default=10.0)
        assert merge_entries(self.tsa, self.tsb, op) == [
            (1, -9.0, 5),
            (6, -2.0, 5),
            (12, -1.0, 4),
            (16, -8.0, 6),
        ]

    def test_strict_multiply(self):
        assert merge_entries(self.tsa, self.tsb, op_strict(lambda a, b: a * b)) == [
            (6, 3.0, 5),
            (12, 6.0, 4),
        ]

    def test_strict_zip_prod_case(self):
        a = [(1528943988000, 468000.0, 660000), (1528944588000, 475000.0, 660000)]
        b = [(1528943988000, -468000.0, 660000), (1528944588000, -475000.0, 660000)]
        result = merge_entries(a, b, op_strict_zip)
        assert result == [
            (1528943988000, (468000.0, -468000.0), 600000),
            (1528944588000, (475000.0, -475000.0), 660000),
        ]

    def test_fallback(self):
        assert merge_entries(self.tsa, self.tsb, op_fallback) == [
            (1, 1.0, 10),
            (11, 3.0, 1),
            (12, 2.0, 10),
        ]

    def test_three_way_merge(self):
        a = [(0, 1.0, 10)]
        b = [(5, 2.0, 10)]
        c = [(10, 4.0, 10)]

        def op(vals):
            present = [v for v in vals if v is not None]
            return sum(present) if present else None

        assert merge_entries_n([a, b, c], op) == [
            (0, 1.0, 5),
            (5, 3.0, 5),
            (10, 6.0, 5),
            (15, 4.0, 5),
        ]


class TestGroupedKernels:
    """Batch-vectorized (whole-salt-bucket) kernels vs their per-series twins."""

    @pytest.mark.parametrize("seed", [1, 2, 3])
    @pytest.mark.parametrize("compress", [True, False])
    def test_fit_arrays_grouped_matches_per_series(self, seed, compress):
        from scala_timeseries_lib_spark.kernel.fitter import (
            fit_arrays,
            fit_arrays_grouped,
        )

        rng = np.random.default_rng(seed)
        codes_l, ts_l, val_l, dur_l = [], [], [], []
        per_series = []
        for c in range(5):
            n = int(rng.integers(1, 60))
            ts = 1000 + np.cumsum(rng.integers(1, 30, n)).astype(np.int64)
            # few distinct values + long validities force chains and trims
            val = rng.integers(0, 3, n).astype(np.float64)
            dur = rng.integers(1, 40, n).astype(np.int64)
            codes_l.append(np.full(n, c, np.int64))
            ts_l.append(ts)
            val_l.append(val)
            dur_l.append(dur)
            per_series.append(fit_arrays(ts, val, dur, compress=compress))
        codes = np.concatenate(codes_l)
        keep, g_ts, g_val, g_dur = fit_arrays_grouped(
            codes, np.concatenate(ts_l), np.concatenate(val_l),
            np.concatenate(dur_l), compress=compress,
        )
        assert keep.size == g_ts.size
        got_codes = codes[keep]
        for c, (e_ts, e_val, e_dur) in enumerate(per_series):
            m = got_codes == c
            assert g_ts[m].tolist() == e_ts.tolist()
            assert g_val[m].tolist() == e_val.tolist()
            assert g_dur[m].tolist() == e_dur.tolist()

    def test_fit_arrays_grouped_validation(self):
        from scala_timeseries_lib_spark.kernel.fitter import fit_arrays_grouped

        with pytest.raises(ValueError, match="strictly increasing"):
            fit_arrays_grouped(
                np.array([0, 0]), np.array([10, 10]),
                np.array([1.0, 2.0]), np.array([5, 5]),
            )
        # equal ts across a code change is legal
        keep, ts, _v, _d = fit_arrays_grouped(
            np.array([0, 1]), np.array([10, 10]),
            np.array([1.0, 2.0]), np.array([5, 5]),
        )
        assert ts.tolist() == [10, 10]
        with pytest.raises(ValueError, match="validity"):
            fit_arrays_grouped(
                np.array([0]), np.array([10]), np.array([1.0]), np.array([0])
            )

    @pytest.mark.parametrize("seed", [5, 6, 7])
    def test_sample_closest_grouped_matches_per_series(self, seed):
        from scala_timeseries_lib_spark.kernel.fitter import fit_arrays
        from scala_timeseries_lib_spark.kernel.sample import (
            sample,
            sample_arrays_closest_grouped,
        )

        rng = np.random.default_rng(seed)
        rate = 100
        codes_l, ts_l, val_l, dur_l = [], [], [], []
        per_series = []
        for c in range(6):
            n = int(rng.integers(1, 50))
            ts = 1000 + np.cumsum(rng.integers(1, 300, n)).astype(np.int64)
            val = rng.normal(0, 10, n).round(2)
            dur = rng.integers(1, 250, n).astype(np.int64)
            ts, val, dur = fit_arrays(ts, val, dur, compress=False)
            codes_l.append(np.full(ts.size, c, np.int64))
            ts_l.append(ts)
            val_l.append(val)
            dur_l.append(dur)
            entries = list(zip(ts.tolist(), val.tolist(), dur.tolist()))
            per_series.append(
                sample(entries, int(ts[0]), rate, use_closest=True)
            )
        codes = np.concatenate(codes_l)
        oc, og, ov, od = sample_arrays_closest_grouped(
            codes, np.concatenate(ts_l), np.concatenate(val_l),
            np.concatenate(dur_l), rate,
        )
        for c, want in enumerate(per_series):
            m = oc == c
            got = zip(og[m].tolist(), ov[m].tolist(), od[m].tolist())
            assert list(got) == want

    def test_sample_closest_grouped_overflow_returns_none(self):
        from scala_timeseries_lib_spark.kernel.sample import (
            sample_arrays_closest_grouped,
        )

        # one series spanning ~2^55 ms and 128 series total: 128 * stride
        # crosses 2^62 and the guard must bail BEFORE building any grid
        n_series = 130
        codes = np.r_[np.array([0, 0], np.int64),
                      np.arange(1, n_series, dtype=np.int64)]
        ts = np.r_[np.array([1000, 1 << 55], np.int64),
                   np.full(n_series - 1, 2000, np.int64)]
        val = np.ones(codes.size)
        dur = np.full(codes.size, 10, np.int64)
        assert sample_arrays_closest_grouped(codes, ts, val, dur, 100) is None
