"""Interval-alignment merge: the reference's join family.

Semantics re-expressed from TimeSeriesMerger.scala:13-196: both ordered entry
sequences are split at every boundary where either side changes definition;
the user operator ``op(a_opt, b_opt)`` is applied per elementary segment to
one of four cases (both defined / only A / only B / neither). Holes *between*
the union of the two domains get ``op(None, None)``; nothing is emitted
before ``min(first timestamps)`` or after ``max(ends)``. ``op`` returning
``None`` leaves a hole. The result is fitted/compressed
(TimeSeriesMerger.scala:128).

Implementation: instead of the reference's recursive sweep we take the sorted
union of all boundary points (every ``ts`` and ``ts + validity`` of both
sides) and evaluate each side's value on each elementary segment via binary
search -- O((n+m) log(n+m)) and fully vectorizable. Elementary segments are
by construction fully inside or fully outside every entry, so this is exactly
the reference's cut set.
"""

from __future__ import annotations

import numpy as np

from .fitter import fit, fit_arrays

__all__ = [
    "merge_entries",
    "merge_entries_n",
    "merge_apply_numeric",
    "merge_apply_callable",
    "merge_apply_numeric_n",
    "strict_zip_arrays",
    "op_strict",
    "op_non_strict_plus",
    "op_non_strict_minus",
    "op_fallback",
    "op_strict_zip",
]


def _boundaries(sides):
    pts = []
    for entries in sides:
        for ts, _v, validity in entries:
            pts.append(ts)
            pts.append(ts + validity)
    return sorted(set(pts))


def merge_entries(a, b, op, compress: bool = True):
    """General binary interval merge over tuple-form entries.

    ``op`` is a callable ``(a_value_or_None, b_value_or_None) -> value_or_None``.
    """
    return merge_entries_n([a, b], lambda vs: op(vs[0], vs[1]), compress)


def merge_entries_n(sides, op, compress: bool = True):
    """N-ary interval merge (TimeSeriesMerger.scala:64-79 generalized).

    ``op`` receives a list with one ``value_or_None`` slot per side.
    """
    sides = [list(s) for s in sides]
    if all(len(s) == 0 for s in sides):
        return []
    pts = _boundaries([s for s in sides if s])
    out = []
    import bisect

    starts = [[e[0] for e in s] for s in sides]
    for lo, hi in zip(pts[:-1], pts[1:]):
        vals = []
        for s, st in zip(sides, starts):
            v = None
            i = bisect.bisect_right(st, lo) - 1
            if i >= 0:
                ts, value, validity = s[i]
                if lo < ts + validity:
                    v = value
            vals.append(v)
        r = op(vals)
        if r is not None:
            out.append((lo, r, hi - lo))
    return fit(out, compress=compress)


# ---------------------------------------------------------------------------
# Standard operators (NumericTimeSeries.scala:18-45, TimeSeries.scala:277-335)
# ---------------------------------------------------------------------------

def op_strict(fn):
    """Defined only where both sides are defined (TimeSeries.scala:277-281)."""

    def op(a, b):
        if a is None or b is None:
            return None
        return fn(a, b)

    return op


def op_non_strict_plus(a, b):
    """NumericTimeSeries.nonStrictPlus (scala:18-26)."""
    if a is None and b is None:
        return None
    if a is None:
        return b
    if b is None:
        return a
    return a + b


def op_non_strict_minus(a, b, left_default=None, right_default=None):
    """NumericTimeSeries.nonStrictMinus (scala:37-45)."""
    if a is not None and b is not None:
        return a - b
    if a is not None:
        return None if right_default is None else a - right_default
    if b is not None:
        return None if left_default is None else left_default - b
    if left_default is not None and right_default is not None:
        return left_default - right_default
    return None


def op_fallback(a, b):
    """Priority merge: this where defined, else other (TimeSeries.scala:530-534)."""
    return a if a is not None else b


def op_strict_zip(a, b):
    """Tuple-valued strict merge (TimeSeries.scala:335)."""
    if a is None or b is None:
        return None
    return (a, b)


# ---------------------------------------------------------------------------
# Vectorized numeric merge for the Spark hot path
# ---------------------------------------------------------------------------

_NUMERIC_OPS = {
    "plus_strict": lambda a, b, da, db: np.where(da & db, a + b, np.nan),
    "plus": lambda a, b, da, db: np.where(
        da & db, a + b, np.where(da, a, np.where(db, b, np.nan))
    ),
    "minus_strict": lambda a, b, da, db: np.where(da & db, a - b, np.nan),
    "multiply_strict": lambda a, b, da, db: np.where(da & db, a * b, np.nan),
    "fallback": lambda a, b, da, db: np.where(da, a, np.where(db, b, np.nan)),
}


def _segments(sides):
    """Boundary-union elementary segments ``[lo, hi)`` of k ``(ts, value,
    validity)`` array sides, plus each side's ``defined[k, n]`` mask and
    ``values[k, n]`` (NaN where undefined) on those segments."""
    sides = [
        (np.asarray(t, np.int64), np.asarray(v, np.float64),
         np.asarray(d, np.int64))
        for t, v, d in sides
    ]
    pts = np.unique(
        np.concatenate([np.concatenate([t, t + d]) for t, _v, d in sides])
    )
    lo, hi = pts[:-1], pts[1:]
    defined = np.zeros((len(sides), lo.size), bool)
    values = np.full((len(sides), lo.size), np.nan)
    for i, (ts, val, validity) in enumerate(sides):
        if ts.size:
            idx = np.searchsorted(ts, lo, side="right") - 1
            idxc = np.clip(idx, 0, None)
            defined[i] = (idx >= 0) & (lo < ts[idxc] + validity[idxc])
            values[i] = np.where(defined[i], val[idxc], np.nan)
    return lo, hi, defined, values


def _mask_outside_ranges(res, lo, hi, valid_ranges):
    """Force segments not fully inside any [start, end) window to hole.

    Used by the offset-packed dispatch: ops that can produce a value on an
    (undefined, undefined) segment (non-strict minus with both defaults, an
    arbitrary callable) must not emit anything in the artificial gaps
    BETWEEN packed series regions, nor let RLE compression bridge them."""
    if valid_ranges is None:
        return res
    starts, ends = valid_ranges
    idx = np.searchsorted(starts, lo, side="right") - 1
    ok = idx >= 0
    idxc = np.clip(idx, 0, starts.size - 1)
    inside = ok & (hi <= ends[idxc])
    return np.where(inside, res, np.nan)


def merge_apply_numeric(
    a_ts, a_val, a_validity, b_ts, b_val, b_validity, op: str,
    compress: bool = True,
    left_default: float | None = None,
    right_default: float | None = None,
    valid_ranges=None,
):
    """Vectorized binary merge for float64 values.

    ``op`` is one of ``plus_strict|plus|minus|minus_strict|multiply_strict|
    fallback``. ``minus`` is the reference's non-strict subtraction with
    optional per-side fallback defaults (NumericTimeSeries.scala:37-45):
    where only one side is defined the other takes its default (hole if that
    default is None); where neither is defined, ``left_default -
    right_default`` when both are set, else a hole.

    ``valid_ranges`` is an optional pair of sorted arrays (starts, ends) of
    disjoint windows; segments outside every window become holes BEFORE
    compression (see _mask_outside_ranges). Undefined results are encoded as
    NaN segments and dropped. Returns fitted ``(ts, value, validity)``
    arrays.
    """
    lo, hi, (da, db), (va, vb) = _segments(
        [(a_ts, a_val, a_validity), (b_ts, b_val, b_validity)]
    )
    if op == "minus":
        only_a = (
            va - right_default if right_default is not None
            else np.full(lo.size, np.nan)
        )
        only_b = (
            left_default - vb if left_default is not None
            else np.full(lo.size, np.nan)
        )
        neither = (
            left_default - right_default
            if left_default is not None and right_default is not None
            else np.nan
        )
        res = np.where(
            da & db, va - vb,
            np.where(da, only_a, np.where(db, only_b, neither)),
        )
    else:
        res = _NUMERIC_OPS[op](va, vb, da, db)
    res = _mask_outside_ranges(res, lo, hi, valid_ranges)
    keep = ~np.isnan(res)
    return fit_arrays(lo[keep], res[keep], (hi - lo)[keep], compress=compress)


def merge_apply_callable(
    a_ts, a_val, a_validity, b_ts, b_val, b_validity, op,
    compress: bool = True,
    valid_ranges=None,
):
    """Binary merge with an arbitrary Python operator
    ``op(a_value_or_None, b_value_or_None) -> float_or_None``
    (TimeSeries.scala:261 ``merge``).

    The boundary-union segmentation, per-side lookups, and compression are
    all vectorized; only the operator itself runs per elementary segment
    (inherent -- it is opaque Python). Returns fitted ``(ts, value,
    validity)`` arrays; value type must be numeric (the DataFrame column is
    double)."""
    lo, hi, (da, db), (va, vb) = _segments(
        [(a_ts, a_val, a_validity), (b_ts, b_val, b_validity)]
    )
    out = [
        op(a if d_a else None, b if d_b else None)
        for a, b, d_a, d_b in zip(va.tolist(), vb.tolist(),
                                  da.tolist(), db.tolist())
    ]
    res = np.array([np.nan if r is None else float(r) for r in out])
    res = _mask_outside_ranges(res, lo, hi, valid_ranges)
    keep = ~np.isnan(res)
    return fit_arrays(lo[keep], res[keep], (hi - lo)[keep], compress=compress)


def strict_zip_arrays(
    a_ts, a_val, a_validity, b_ts, b_val, b_validity, compress: bool = True
):
    """Vectorized strictZip (TimeSeries.scala:335): tuple-valued segments
    defined only where BOTH sides are. Returns ``(ts, a_value, b_value,
    validity)`` arrays; with ``compress`` adjacent contiguous segments with
    equal (a, b) pairs are RLE-merged (the fitter's tuple-equality rule)."""
    lo, hi, (da, db), (va, vb) = _segments(
        [(a_ts, a_val, a_validity), (b_ts, b_val, b_validity)]
    )
    keep = da & db
    lo, hi, va, vb = lo[keep], hi[keep], va[keep], vb[keep]
    if not compress or lo.size == 0:
        return lo, va, vb, hi - lo
    brk = np.ones(lo.size, bool)
    brk[1:] = (lo[1:] != hi[:-1]) | (va[1:] != va[:-1]) | (vb[1:] != vb[:-1])
    starts = np.flatnonzero(brk)
    ends = np.append(starts[1:], lo.size) - 1
    return lo[starts], va[starts], vb[starts], hi[ends] - lo[starts]


def merge_apply_numeric_n(sides, op: str, compress: bool = True):
    """Vectorized n-ary merge (TimeSeriesMerger.scala:64-79 generalized to
    k sides) for float64 values.

    ``sides`` is a list of ``(ts, value, validity)`` array triples.
    ``op``: ``plus`` (non-strict sum of the defined slots; hole only where
    every side is undefined) or ``plus_strict`` (defined only where all
    sides are defined). Same boundary-union construction as the binary
    kernel: O(total log total), no Python per-segment loop.
    """
    lo, hi, defined, values = _segments(sides)
    total = np.where(defined, values, 0.0).sum(axis=0)
    n_def = defined.sum(axis=0)
    if op == "plus":
        keep = n_def > 0
    elif op == "plus_strict":
        keep = n_def == len(sides)
    else:
        raise ValueError(f"unknown n-ary op {op!r}")
    return fit_arrays(lo[keep], total[keep], (hi - lo)[keep], compress=compress)
