"""Sampling, entry splitting, and gap filling.

- ``sample``: the reference's resample/LOCF primitive (TimeSeries.scala:598-646).
  Strict mode takes the exact value at each grid point ``start + k*rate``;
  closest mode looks in ``[p - rate/2, p + rate/2)`` and takes the entry
  *starting* closest to the point, falling back to the entry defined at the
  point (LOCF with jitter tolerance). Never aggregates.
- ``split_longer_than``: chop entries into <= max_length pieces, without
  compressing the resulting equal pieces (TimeSeries.scala:364-370, 595-596).
- ``fill``: fill every hole with a constant over ``[head.ts, last.end)``
  (TimeSeries.scala:154-161 via fallback of one long entry).
"""

from __future__ import annotations

import numpy as np

from .fitter import fit
from .merge import merge_entries, op_fallback

__all__ = [
    "sample",
    "sample_arrays_closest_grouped",
    "split_longer_than",
    "fill",
]


def sample(entries, start: int, rate: int, use_closest: bool, compress: bool = False):
    """Port of the lazy-stream sampler TimeSeries.scala:601-646 (exact rules)."""
    entries = list(entries)
    n = len(entries)
    out = []
    i = 0
    p = start
    half = rate // 2
    while i < n:
        ts, value, validity = entries[i]
        until = ts + validity
        # the head entry is still too far in the future -> advance sample point
        too_far = ts > p + half if use_closest else ts > p
        if too_far:
            p += rate
            continue
        if i + 1 < n:
            nxt_ts = entries[i + 1][0]
            if not use_closest:
                take = p < until
            else:
                take = (p < until and nxt_ts > p + half) or (
                    abs(ts - p) < abs(nxt_ts - p)
                )
            if take:
                out.append((p, value, rate))
                p += rate
            else:
                i += 1
        else:
            # last entry: only take its value while still defined at p
            if p < until:
                out.append((p, value, rate))
                p += rate
            else:
                i += 1
    return fit(out, compress=compress) if compress else out


def sample_arrays_closest_grouped(codes, ts, value, validity, rate: int):
    """Closest-in-window sampling over MANY series in one vectorized pass;
    per series the result equals ``sample(..., use_closest=True)`` on
    fitted entries, with the grid starting at the series' first timestamp
    (pinned by test).

    Declarative restatement of the sequential cursor (TimeSeries.scala:
    601-646; proof sketch in __spark_entry__._sample_closest_sql): at grid
    point p the candidate range is [L..R] where L = last entry with
    ``ts <= p`` and R = last entry with ``ts <= p + rate/2``; the chosen
    entry is the argmin of |ts - p| with ties to the later entry, accepted
    iff its take rule holds (last entry: still defined at p; otherwise:
    defined-at-p with the successor beyond the half-window, or strictly
    closer than the successor).

    ``codes`` ascending, ``ts`` ascending within each code. Offset packing
    gives every series a disjoint int64 region of width ``span + rate/2 +
    2`` so the global searchsorted lookups are per-series exact (a grid
    probe ``p + rate/2`` can never reach the next region).

    Returns ``(out_codes, grid_ts, values, validities)`` numpy arrays, or
    ``None`` when ``n_series * stride`` would overflow the packed axis
    (callers fall back to the per-series kernel).
    """
    codes = np.asarray(codes, np.int64)
    ts = np.asarray(ts, np.int64)
    value = np.asarray(value)
    validity = np.asarray(validity, np.int64)
    n = ts.size
    if n == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                value[:0], np.empty(0, np.int64))
    half = rate // 2
    base = int(ts.min())
    span = int((ts + validity).max()) - base
    stride = span + half + 2
    if (int(codes.max()) + 1) * stride >= 1 << 62:
        return None
    packed = codes * stride + (ts - base)

    starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    ends = np.r_[starts[1:], n]
    first_p = packed[starts]
    last_until = packed[ends - 1] + validity[ends - 1]
    k = (last_until - 1 - first_p) // rate
    ngrid = k + 1  # >= 1: every fitted entry has until > ts
    total = int(ngrid.sum())
    sidx = np.repeat(np.arange(starts.size), ngrid)
    within = np.arange(total) - np.repeat(np.cumsum(ngrid) - ngrid, ngrid)
    grid = first_p[sidx] + rate * within

    # candidates [L..R]; |ts - p| is unimodal over them, so the winner is
    # either L (if it is still the closest) or the first entry at or after p
    L = np.searchsorted(packed, grid, side="right") - 1
    R = np.searchsorted(packed, grid + half, side="right") - 1
    lo = np.clip(L, 0, None)
    after = np.clip(np.searchsorted(packed, grid, side="left"), 0, n - 1)
    cand_after = np.minimum(after, np.clip(R, 0, None))
    d_lo = np.abs(packed[lo] - grid)
    d_after = np.abs(packed[cand_after] - grid)
    chosen = np.where(d_lo < d_after, lo, cand_after)

    until = packed[chosen] + validity[chosen]
    nxt = np.where(chosen + 1 < n, packed[np.minimum(chosen + 1, n - 1)], 0)
    is_last = chosen == (ends - 1)[sidx]
    take_last = grid < until
    take_mid = ((grid < until) & (nxt > grid + half)) | (
        np.abs(packed[chosen] - grid) < np.abs(nxt - grid)
    )
    ok = (R >= 0) & np.where(is_last, take_last, take_mid)
    g = grid[ok]
    return (
        g // stride,
        g % stride + base,
        value[chosen[ok]],
        np.full(g.size, rate, np.int64),
    )


def split_longer_than(entries, max_length: int):
    """Split every entry into pieces of at most ``max_length``; the pieces of
    one entry carry equal values but are NOT compressed (TimeSeries.scala:368-369).
    """
    out = []
    for ts, value, validity in entries:
        t = ts
        until = ts + validity
        while until - t > max_length:
            out.append((t, value, max_length))
            t += max_length
        out.append((t, value, until - t))
    return out


def fill(entries, fill_value, compress: bool = True):
    """Fill holes with ``fill_value``; result spans ``[first.ts, last.end)``
    with a single continuous domain (TimeSeries.scala:154-161)."""
    entries = list(entries)
    if not entries:
        return []
    start = entries[0][0]
    end = entries[-1][0] + entries[-1][2]
    backdrop = [(start, fill_value, end - start)]
    return merge_entries(entries, backdrop, op_fallback, compress=compress)
