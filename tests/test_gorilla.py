"""Gorilla codec round-trip contracts from the reference's
archive/GorillaBlockSpec.scala:9-123 (see FIXTURES.md B.9)."""

import struct

import numpy as np
import pytest

from scala_timeseries_lib_spark.kernel import gorilla
from scala_timeseries_lib_spark.kernel.gorilla import (
    _LOCKSTEP_WIDTH,
    _decompress_array_py,
    compress_array,
    compress_sampled_block,
    compress_tuple_block,
    decompress_arrays,
    decompress_sampled_block,
    decompress_tuple_block,
    deserialize_tuple_block,
    serialize_tuple_block,
    validate_gorilla_timestamps,
)

TS_DOUBLE = [
    (1, 200.03, 100),
    (50, 400.03, 100),
    (77, 100.03, 100),
    (200, 0.123456789, 100),
]

LONG_MAX = float(2**63 - 1)
LONG_MIN = float(-(2**63))
TS_LONG = [
    (1, 1.0, 100),
    (50, LONG_MAX, 100),
    (77, LONG_MIN, 100),
    (200, 123456789.0, 100),
    (1234123234, 87767666566.0, 100),
]


class TestTupleBlock:
    def test_round_trip_doubles(self):
        # entries overlap (validity 100, gaps < 100): the builder fits them,
        # trimming validities to the next entry's start, like the reference's
        # GorillaBlock.Builder (GorillaBlock.scala:241-254)
        from scala_timeseries_lib_spark.kernel.fitter import fit

        data = compress_tuple_block(TS_DOUBLE)
        assert decompress_tuple_block(data) == fit(TS_DOUBLE)

    def test_round_trip_long_extremes_via_double(self):
        from scala_timeseries_lib_spark.kernel.fitter import fit

        data = compress_tuple_block(TS_LONG)
        assert decompress_tuple_block(data) == fit(TS_LONG)

    def test_round_trip_fitted_exact(self):
        entries = [(1, 200.03, 49), (50, 400.03, 27), (77, 100.03, 123), (200, 0.123456789, 100)]
        assert decompress_tuple_block(compress_tuple_block(entries)) == entries

    def test_serialize_framing_length(self):
        vb, db = b"\x01\x02\x03", b"\x04\x05"
        framed = serialize_tuple_block(vb, db)
        assert len(framed) == 4 + len(vb) + len(db)
        assert struct.unpack(">i", framed[:4])[0] == len(vb)
        assert deserialize_tuple_block(framed) == (vb, db)

    def test_empty_arrays_error(self):
        with pytest.raises(ValueError):
            serialize_tuple_block(b"", b"\x01")
        with pytest.raises(ValueError):
            serialize_tuple_block(b"\x01", b"")
        with pytest.raises(ValueError):
            compress_tuple_block([])

    def test_corrupt_input_error(self):
        with pytest.raises(ValueError):
            decompress_tuple_block(b"\x00\x00")
        with pytest.raises(ValueError):
            decompress_arrays([b"garbage"])
        # valid frame, garbage arrays
        with pytest.raises(ValueError):
            decompress_tuple_block(serialize_tuple_block(b"\x00" * 16, b"\x00" * 16))


class TestSampledBlock:
    def test_round_trip(self):
        entries = [(1, 1.5, 100), (101, 2.5, 100), (201, 3.5, 100), (301, 4.5, 100)]
        data = compress_sampled_block(entries, 100)
        assert decompress_sampled_block(data, 100) == entries

    def test_non_positive_rate_errors(self):
        entries = [(1, 1.5, 100)]
        with pytest.raises(ValueError):
            compress_sampled_block(entries, 0)
        with pytest.raises(ValueError):
            decompress_sampled_block(compress_sampled_block(entries, 100), -1)


class TestValidator:
    def test_constraints(self):
        validate_gorilla_timestamps([1, 2, 3])
        with pytest.raises(ValueError):
            validate_gorilla_timestamps([0, 5])  # non-positive
        with pytest.raises(ValueError):
            validate_gorilla_timestamps([5, 5])  # not strictly increasing
        with pytest.raises(ValueError):
            validate_gorilla_timestamps([1, 1 + 2**31])  # gap too large


class TestPropertyRoundTrips:
    def test_random_series(self):
        rng = np.random.default_rng(42)
        for trial in range(25):
            n = int(rng.integers(1, 300))
            ts = 1 + np.cumsum(rng.integers(1, 10_000, n).astype(np.int64))
            choice = trial % 3
            if choice == 0:
                vals = rng.normal(100, 50, n)
            elif choice == 1:
                vals = rng.integers(-5, 5, n).astype(float)
            else:
                vals = np.full(n, 3.14159)
            ts_arr = np.asarray(ts, np.int64)
            data = compress_array(ts_arr, vals.view(np.uint64))
            [(t2, v2)] = decompress_arrays([data])
            assert np.array_equal(t2, ts_arr)
            assert np.array_equal(v2.view(np.float64), vals)

    def test_special_doubles(self):
        vals = np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, 1.7e308])
        ts = np.arange(1, len(vals) + 1, dtype=np.int64)
        [(t2, v2)] = decompress_arrays([compress_array(ts, vals.view(np.uint64))])
        assert np.array_equal(t2, ts)
        assert np.array_equal(v2, vals.view(np.uint64))

    def test_compression_ratio_regular_series(self):
        # delta-of-delta on a regular grid should be far smaller than raw
        n = 10_000
        ts = 1 + 1000 * np.arange(n, dtype=np.int64)
        vals = np.full(n, 21.5)
        data = compress_array(ts, vals.view(np.uint64))
        assert len(data) < n * 16 / 10  # >10x better than raw (ts,value) pairs


def _count_sequential(monkeypatch):
    """Count the blocks decompress_arrays hands to the sequential decoder."""
    calls = []

    def spy(data):
        calls.append(data)
        return _decompress_array_py(data)

    monkeypatch.setattr(gorilla, "_decompress_array_py", spy)
    return calls


class TestLockstepBatchDecoder:
    """decompress_arrays must agree bit-for-bit with the sequential
    reference decoder on every block of a heterogeneous batch, whichever
    decoder the batch width picks."""

    def _random_batch(self, rng, n_blocks):
        blocks, expected = [], []
        for trial in range(n_blocks):
            n = int(rng.integers(1, 400))
            ts = 1 + np.cumsum(rng.integers(1, 10_000, n).astype(np.int64))
            kind = trial % 5
            if kind == 0:
                vals = rng.normal(100, 50, n).view(np.uint64)
            elif kind == 1:
                vals = rng.integers(-5, 5, n).astype(np.float64).view(np.uint64)
            elif kind == 2:
                vals = np.full(n, 3.14159).view(np.uint64)  # all-reuse / no-change
            elif kind == 3:
                sp = np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, 1.7e308])
                vals = sp[rng.integers(0, len(sp), n)].view(np.uint64)
            else:
                vals = rng.integers(0, 2**63 - 1, n, dtype=np.int64).astype(np.uint64)
            blocks.append(compress_array(ts, vals))
            expected.append((ts, vals))
        return blocks, expected

    def test_matches_single_block_decoders(self, monkeypatch):
        rng = np.random.default_rng(99)
        blocks, expected = self._random_batch(rng, 60)
        sequential = _count_sequential(monkeypatch)
        decoded = decompress_arrays(blocks)
        assert not sequential  # the batch is wide: lockstep decoded it
        assert len(decoded) == len(blocks)
        for blob, (t_exp, v_exp), (t_got, v_got) in zip(blocks, expected, decoded):
            assert np.array_equal(t_got, t_exp)
            assert np.array_equal(v_got, v_exp)
            t_py, v_py = _decompress_array_py(blob)
            assert np.array_equal(t_got, t_py) and np.array_equal(v_got, v_py)

    @pytest.mark.parametrize(
        "lanes", [1, 2, _LOCKSTEP_WIDTH - 1, _LOCKSTEP_WIDTH, _LOCKSTEP_WIDTH + 1, 64]
    )
    def test_every_width_matches_sequential(self, lanes):
        rng = np.random.default_rng(lanes)
        blocks, _ = self._random_batch(rng, lanes)
        for blob, (t_got, v_got) in zip(blocks, decompress_arrays(blocks)):
            t_py, v_py = _decompress_array_py(blob)
            assert np.array_equal(t_got, t_py) and np.array_equal(v_got, v_py)

    @pytest.mark.parametrize("lanes", [1, 2, _LOCKSTEP_WIDTH - 1, _LOCKSTEP_WIDTH])
    def test_width_picks_decoder(self, monkeypatch, lanes):
        # equal blocks: lockstep from _LOCKSTEP_WIDTH lanes on; a lone tuple
        # block (two lanes) decodes sequentially
        blob = compress_array(1 + np.arange(50, dtype=np.int64),
                              np.arange(50.0).view(np.uint64))
        sequential = _count_sequential(monkeypatch)
        decompress_arrays([blob] * lanes)
        assert len(sequential) == (0 if lanes >= _LOCKSTEP_WIDTH else lanes)

    def test_single_entry_and_size_skew(self):
        # one-entry blocks next to a long block: lanes retire at different steps
        long_ts = 1 + 1000 * np.arange(5000, dtype=np.int64)
        long_vals = np.cumsum(np.ones(5000)).view(np.uint64)
        blocks = [
            compress_array(np.array([7], np.int64), np.array([1.5]).view(np.uint64)),
            compress_array(long_ts, long_vals),
            compress_array(np.array([1, 2], np.int64),
                           np.array([0.0, 0.0]).view(np.uint64)),
        ]
        out = decompress_arrays(blocks)
        assert np.array_equal(out[0][0], [7])
        assert np.array_equal(out[1][0], long_ts)
        assert np.array_equal(out[1][1], long_vals)
        assert np.array_equal(out[2][1].view(np.float64), [0.0, 0.0])

    def test_empty_and_corrupt_batch(self):
        assert decompress_arrays([]) == []
        good = compress_array(np.array([1, 2, 3], np.int64),
                              np.array([1.0, 2.0, 3.0]).view(np.uint64))
        with pytest.raises(ValueError):
            decompress_arrays([good, b"garbage"])
        with pytest.raises(ValueError):
            decompress_arrays([good, good[:14]])

    def test_corrupt_entry_count_fails_before_allocating(self):
        # 2^31 entries cannot fit in 20 payload bytes: both decoders must
        # reject the header instead of allocating 16 GiB per output array
        good = compress_array(np.array([1, 2, 3], np.int64),
                              np.array([1.0, 2.0, 3.0]).view(np.uint64))
        bad = struct.pack("<Iq", 1 << 31, 5) + b"\0" * 20
        with pytest.raises(ValueError, match="bad entry count"):
            _decompress_array_py(bad)
        with pytest.raises(ValueError, match="bad entry count"):
            decompress_arrays([good, bad])
        with pytest.raises(ValueError, match="bad entry count"):
            decompress_arrays([good] * _LOCKSTEP_WIDTH + [bad])

    def test_tuple_blocks_batch(self):
        from scala_timeseries_lib_spark.kernel.gorilla import (
            compress_tuple_block_arrays,
            decompress_tuple_blocks_arrays,
        )

        rng = np.random.default_rng(5)
        blobs, exp = [], []
        for _ in range(20):
            n = int(rng.integers(1, 200))
            ts = 1 + np.cumsum(rng.integers(1, 5_000, n).astype(np.int64))
            vals = rng.normal(0, 10, n)
            dur = rng.integers(1, 4_000, n).astype(np.int64)
            blobs.append(
                compress_tuple_block_arrays(ts, vals, dur, compress=False)
            )
            from scala_timeseries_lib_spark.kernel.fitter import fit_arrays

            exp.append(fit_arrays(ts, vals, dur, compress=False))
        for (t, v, d), (te, ve, de) in zip(
            decompress_tuple_blocks_arrays(blobs), exp
        ):
            assert np.array_equal(t, te)
            assert np.array_equal(v, ve)
            assert np.array_equal(d, de)


class TestVectorizedEncoderCrossCheck:
    def test_vec_and_sequential_encoders_roundtrip_identically(self):
        import numpy as np

        from scala_timeseries_lib_spark.kernel.gorilla import _compress_array_py

        rng = np.random.default_rng(17)
        for trial in range(40):
            n = int(rng.integers(1, 300))
            ts = 1_000 + np.cumsum(rng.integers(1, 50_000, n)).astype(np.int64)
            if trial % 3 == 0:
                vals = rng.normal(0, 1e6, n).view(np.uint64)
            elif trial % 3 == 1:
                vals = rng.integers(0, 4, n).astype(np.float64).view(np.uint64)
            else:
                vals = rng.integers(0, 2**63 - 1, n, dtype=np.int64).astype(
                    np.uint64
                )
            for enc in (compress_array, _compress_array_py):
                [(t2, v2)] = decompress_arrays([enc(ts, vals)])
                assert np.array_equal(t2, ts)
                assert np.array_equal(v2, vals)


@pytest.mark.parametrize("buckets", ["one", "per_core"])
def test_roundtrip_query_splits_wide_gaps(spark, tmp_path, monkeypatch, buckets):
    """``_q_gorilla_roundtrip`` splits a series into separate blocks at each
    gap of >= 2^31 ms (the wire format cannot carry it), and the decoded
    output is still exactly the derived entries, whether the gapped series
    shares its bucket with an ordinary one or not."""
    import pandas as pd

    import __spark_entry__ as entry
    from scala_timeseries_lib_spark.operators import _kernel

    t0 = 1_700_000_000_000
    gapped = [t0, t0 + 1_000, t0 + 1_000 + 2**31, t0 + 2_000 + 2**31,
              t0 + 2_000 + 2**32 + 7]
    ordinary = [t0 + 500 * i for i in range(6)]
    rows = [(1, "click", t, float(i)) for i, t in enumerate(gapped)]
    rows += [(2, "view", t, 10.0 + i) for i, t in enumerate(ordinary)]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts_ms", "value"])
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_ms"), unit="ms").astype("datetime64[us]")
    pdf.to_parquet(tmp_path / "events.parquet", index=False)

    n = 1 if buckets == "one" else max(spark.sparkContext.defaultParallelism, 1)
    monkeypatch.setattr(_kernel, "_default_buckets", lambda df: n)
    got = entry._q_gorilla_roundtrip(spark, str(tmp_path))
    assert got.rdd.getNumPartitions() == n
    want = sorted(map(tuple, entry._entries(spark, str(tmp_path)).collect()))
    assert sorted(map(tuple, got.collect())) == want
    gaps = np.diff([r[2] for r in want if r[0] == 1])
    assert len(want) == 11 and (gaps >= 2**31).sum() == 2
