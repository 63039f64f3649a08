"""Property-based kernel tests (hypothesis).

The reference has no property testing (scalacheck is an unfulfilled TODO,
README.md:166); these properties pin the algebraic laws its golden fixtures
only sample: fitter idempotence/normalization, merge commutativity,
identity laws and pointwise semantics, fallback self-absorption, entry
splitting conservation, strict-sampling membership, Gorilla round-trips
over adversarial doubles.

Pure kernel (numpy) -- no SparkSession, so the suite runs in seconds.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from scala_timeseries_lib_spark.kernel import merge as kmerge
from scala_timeseries_lib_spark.kernel import sample as ksample
from scala_timeseries_lib_spark.kernel.fitter import fit
from scala_timeseries_lib_spark.kernel.gorilla import (
    compress_tuple_block,
    decompress_tuple_block,
)

def _cumsum_entries(gvd):
    """(gap, value, validity) triples -> strictly-increasing raw entries
    (the fitter enforces the reference's strictly-increasing contract,
    TimestampValidator.scala:89-94, so duplicate ts must not be generated;
    overlap/extension still occurs freely through the validities)."""
    ts, out = 0, []
    for g, v, d in gvd:
        ts += g
        out.append((ts, v, d))
    return out


# possibly-overlapping entries with strictly increasing timestamps
entries_list = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=400),
        st.sampled_from([0.0, 1.0, 2.5, -3.0, 7.0]),
        st.integers(min_value=1, max_value=500),
    ),
    min_size=0,
    max_size=40,
).map(_cumsum_entries)


def _is_fitted(es):
    for (t1, _v1, d1), (t2, _v2, _d2) in zip(es, es[1:]):
        if not (t1 < t2 and t1 + d1 <= t2):
            return False
    return all(d > 0 for _t, _v, d in es)


def _defined_at(es, t):
    for ts, v, d in es:
        if ts <= t < ts + d:
            return v
    return None


@settings(max_examples=200, deadline=None)
@given(entries_list)
def test_fit_normalizes_and_is_idempotent(raw):
    f1 = fit(raw, compress=True)
    assert _is_fitted(f1)
    assert fit(f1, compress=True) == f1


@settings(max_examples=200, deadline=None)
@given(entries_list, entries_list)
def test_merge_plus_commutes(ra, rb):
    a, b = fit(ra), fit(rb)
    ab = kmerge.merge_entries(a, b, kmerge.op_non_strict_plus)
    ba = kmerge.merge_entries(b, a, kmerge.op_non_strict_plus)
    assert ab == ba


@settings(max_examples=200, deadline=None)
@given(entries_list)
def test_merge_identities(raw):
    a = fit(raw, compress=True)
    # empty is the identity of the non-strict plus
    assert kmerge.merge_entries(a, [], kmerge.op_non_strict_plus) == a
    # fallback(a, a) == a
    assert kmerge.merge_entries(a, a, kmerge.op_fallback) == a
    # strict ops over disjoint domains are empty
    assert kmerge.merge_entries(
        a, [], kmerge.op_strict(lambda x, y: x + y)
    ) == []


@settings(max_examples=150, deadline=None)
@given(entries_list, st.integers(min_value=0, max_value=12_000))
def test_merge_pointwise_semantics(raw_a, t):
    """The merged value at any instant equals op of the operand values."""
    a = fit(raw_a)
    b = [(e[0] + 7, e[1] * 2, e[2]) for e in a[: len(a) // 2]]
    m = kmerge.merge_entries(a, b, kmerge.op_non_strict_plus, compress=False)
    va, vb = _defined_at(a, t), _defined_at(b, t)
    expect = None if va is None and vb is None else (va or 0) + (vb or 0)
    assert _defined_at(m, t) == expect


@settings(max_examples=150, deadline=None)
@given(entries_list, st.integers(min_value=1, max_value=200))
def test_split_longer_than_preserves_domain_and_values(raw, max_len):
    es = fit(raw)
    pieces = ksample.split_longer_than(es, max_len)
    assert all(0 < d <= max_len for _t, _v, d in pieces)
    assert sum(d for *_x, d in pieces) == sum(d for *_x, d in es)
    for t in range(0, 11_000, 97):
        assert _defined_at(pieces, t) == _defined_at(es, t)


@settings(max_examples=150, deadline=None)
@given(entries_list, st.integers(min_value=1, max_value=300))
def test_strict_sample_is_pointwise_lookup(raw, rate):
    es = fit(raw)
    out = ksample.sample(es, es[0][0] if es else 0, rate, use_closest=False)
    for p, v, d in out:
        assert d == rate
        assert _defined_at(es, p) == v


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**30 - 1),
            st.floats(allow_nan=False, width=64),
            st.integers(min_value=1, max_value=2**30),
        ),
        min_size=1,
        max_size=60,
    ).map(_cumsum_entries)
)
def test_gorilla_tuple_roundtrip(raw):
    es = fit(raw, compress=False)
    if not es:
        return
    out = decompress_tuple_block(compress_tuple_block(es, compress=False))
    assert [(t, d) for t, _v, d in out] == [(t, d) for t, _v, d in es]
    got = np.array([v for _t, v, _d in out])
    want = np.array([v for _t, v, _d in es])
    assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


# ---------------------------------------------------------------------------
# Grouped (whole-bucket) kernels vs per-series twins under fuzz
# ---------------------------------------------------------------------------

multi_series = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=400),
            st.sampled_from([0.0, 1.0, 2.5, -3.0, 7.0]),
            st.integers(min_value=1, max_value=500),
        ),
        min_size=1,
        max_size=25,
    ).map(_cumsum_entries),
    min_size=1,
    max_size=5,
)


def _grouped_arrays(series_list):
    codes = np.concatenate(
        [np.full(len(s), c, np.int64) for c, s in enumerate(series_list)]
    )
    ts = np.concatenate([[e[0] for e in s] for s in series_list]).astype(np.int64)
    val = np.concatenate([[e[1] for e in s] for s in series_list])
    dur = np.concatenate([[e[2] for e in s] for s in series_list]).astype(np.int64)
    return codes, ts, val, dur


@given(multi_series, st.booleans())
@settings(max_examples=60, deadline=None)
def test_fit_arrays_grouped_equals_per_series_fit(series_list, compress):
    from scala_timeseries_lib_spark.kernel.fitter import fit_arrays_grouped

    codes, ts, val, dur = _grouped_arrays(series_list)
    keep, g_ts, g_val, g_dur = fit_arrays_grouped(
        codes, ts, val, dur, compress=compress
    )
    got_codes = codes[keep]
    for c, s in enumerate(series_list):
        m = got_codes == c
        want = fit(s, compress=compress)
        got = list(zip(g_ts[m].tolist(), g_val[m].tolist(), g_dur[m].tolist()))
        assert got == want


@given(multi_series, st.integers(min_value=2, max_value=600))
@settings(max_examples=60, deadline=None)
def test_sample_closest_grouped_equals_per_series(series_list, rate):
    fitted = [fit(s, compress=False) for s in series_list]
    codes, ts, val, dur = _grouped_arrays(fitted)
    oc, og, ov, od = ksample.sample_arrays_closest_grouped(
        codes, ts, val, dur, rate
    )
    for c, s in enumerate(fitted):
        m = oc == c
        got = zip(og[m].tolist(), ov[m].tolist(), od[m].tolist())
        assert list(got) == ksample.sample(s, s[0][0], rate, use_closest=True)


@given(multi_series, st.integers(min_value=1, max_value=2000),
       st.sampled_from(["sum", "min", "max"]))
@settings(max_examples=60, deadline=None)
def test_window_sweep_grouped_equals_sequential(series_list, width, agg):
    from scala_timeseries_lib_spark.kernel import window as kwin

    fitted = [fit(s, compress=False) for s in series_list]
    codes, ts, val, dur = _grouped_arrays(fitted)
    oc, ot, ov, od = kwin.window_sweep_grouped(codes, ts, val, dur, width, agg=agg)
    mk = {"sum": kwin.SumAggregator, "min": kwin.MinAggregator,
          "max": kwin.MaxAggregator}[agg]
    for c, s in enumerate(fitted):
        want = [
            (t, round(a, 7), d)
            for (t, _w, d), a in kwin.window_sweep(s, width, mk())
            if a is not None
        ]
        m = oc == c
        got = [
            (t, round(v, 7), d)
            for t, v, d in zip(ot[m].tolist(), ov[m].tolist(), od[m].tolist())
        ]
        assert got == want


@given(entries_list, entries_list,
       st.sampled_from([None, 0.0, 2.0]), st.sampled_from([None, 0.0, -1.5]))
@settings(max_examples=80, deadline=None)
def test_nonstrict_minus_defaults_vectorized_equals_generic(a, b, ld, rd):
    a, b = fit(a, compress=True), fit(b, compress=True)
    got = kmerge.merge_apply_numeric(
        np.array([e[0] for e in a], np.int64),
        np.array([e[1] for e in a]),
        np.array([e[2] for e in a], np.int64),
        np.array([e[0] for e in b], np.int64),
        np.array([e[1] for e in b]),
        np.array([e[2] for e in b], np.int64),
        op="minus", left_default=ld, right_default=rd,
    )
    want = kmerge.merge_entries(
        a, b, lambda x, y: kmerge.op_non_strict_minus(x, y, ld, rd)
    )
    assert list(zip(got[0].tolist(), got[1].tolist(), got[2].tolist())) == want
