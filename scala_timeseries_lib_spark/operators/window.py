"""Sliding-window operators.

Two execution strategies, chosen by semantics (SURVEY.md 2.9 / 3.3):

- ``sliding_grid_agg``: time-aware aggregates over a *continuous* resampled
  grid. On a hole-free grid with window = m*rate the reference's sweep emits
  exactly at grid points, so the aggregate equals a plain Spark range-frame
  window -- 100% JVM-side, whole-stage-codegen, no Python. (Equivalence is
  pinned against the kernel sweep in tests/test_spark_operators.py.)

- ``sliding_window_exact``: the reference-exact sweep (arbitrary emission
  boundaries, holes, time-unaware aggregators) via the numpy kernel per
  series group; the un-resampled ``sum`` sweep runs as a pure-Catalyst
  boundary union (``_sliding_window_exact_relational``).

One engine per shape, picked by the operator from the call's shape, never
by a caller option: ``sample_closest`` is kernel-only; the un-resampled
exact ``sum`` sweep and ``rolling`` sum/mean run relationally; every other
window shape runs the kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "sliding_grid_agg",
    "sliding_window_exact",
    "rolling_values",
    "dynamic_window_exact",
    "dynamic_window_relational",
    "sample_closest",
]


def sliding_grid_agg(
    grid: DataFrame,
    key_cols: list[str],
    window_width: int,
    rate: int,
    agg: str = "integral",
    timeunit: str = "ms",
) -> DataFrame:
    """Trailing-window aggregate over an already-sampled uniform grid.

    ``grid`` must be hole-free per series with constant validity = rate
    (e.g. from operators.series_ops.sample_strict_grid after LOCF fill).
    The window covers entries intersecting ``[t - window_width, t]``, i.e.
    grid entries with ``ts > t - window_width - rate`` (reference removal
    rule, WindowSlider.scala:226-228).

    ``agg``: integral | mean (time-weighted) | std (time-weighted biased,
    BasicAggregators.scala:71-96) | sum | min | max | median (exact, the
    queueAggregator case).
    """
    from ..kernel.integral import seconds_factor

    f = seconds_factor(timeunit)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("ts")
        .rangeBetween(-(window_width + rate - 1), 0)
    )
    v, d = F.col("value"), F.col("validity")
    if agg == "integral":
        expr = F.sum(v * d * F.lit(f)).over(w)
    elif agg == "mean":
        expr = F.sum(v * d).over(w) / F.sum(d).over(w)
    elif agg == "std":
        m1 = F.sum(v * d).over(w) / F.sum(d).over(w)
        m2 = F.sum(v * v * d).over(w) / F.sum(d).over(w)
        expr = F.sqrt(F.greatest(m2 - m1 * m1, F.lit(0.0)))
    elif agg == "sum":
        expr = F.sum(v).over(w)
    elif agg == "min":
        expr = F.min(v).over(w)
    elif agg == "max":
        expr = F.max(v).over(w)
    elif agg == "median":
        # the queueAggregator case (whole-window contents, Aggregator.scala:
        # 60-63): exact median from the sorted frame contents -- JVM-side
        # collect_list over the frame, no Python
        arr = F.sort_array(F.collect_list(v).over(w))
        n = F.size(arr)
        mid_hi = (n / 2 + 1).cast("int")
        mid_lo = ((n + 1) / 2).cast("int")
        expr = F.when(
            n % 2 == 1, F.element_at(arr, mid_lo)
        ).otherwise(
            (F.element_at(arr, (n / 2).cast("int")) + F.element_at(arr, mid_hi))
            / 2.0
        )
    else:
        raise ValueError(f"unknown agg {agg!r}")
    return grid.withColumn("value", expr)


_AGG_FACTORIES = {
    "sum": "SumAggregator",
    "mean": "MeanAggregator",
    "std": "StdAggregator",
    "min": "MinAggregator",
    "max": "MaxAggregator",
    "integral": "IntegralAggregator",
}


def sliding_window_exact(
    df: DataFrame,
    key_cols: list[str],
    window_width: int,
    agg: str,
    sample_rate: int | None = None,
    use_closest: bool = True,
    timeunit: str = "ms",
    compress: bool = True,
) -> DataFrame:
    """Reference-exact slidingWindow / slidingIntegral per series
    (TimeSeries.scala:412-443). One shuffle on the key.

    For the standard aggregators (sum/mean/std/min/max/integral) the whole
    salt bucket runs through ONE vectorized kernel call
    (kernel.window.window_sweep_grouped: prefix-sum differences and
    sparse-table range min/max over the contiguous window ranges, offset-
    packed across series; closest-in-window resampling batched via
    sample_arrays_closest_grouped); on packed-axis overflow the same
    vectorized kernel reruns once per series. ``agg="median"`` (the
    queue-aggregator case, CollectAggregator: the window's whole contents
    ride along, not expressible as reversible add/drop state) and the strict
    (``use_closest=False``) resample run the sequential sweep, the
    vectorized kernel's semantics twin (pinned equivalent in tests), once
    per series. Both go through ``operators._kernel.apply_grouped``, the
    sequential sweep in its per-series mode, so a null key component is a
    series of its own on every path. Float note: the vectorized sums
    differ from the incremental sweep at ~1e-13 relative
    (prefix-difference vs add/drop rounding), and std inflates true-zero
    variances to ~1e-7 -- round before comparing across paths/engines.

    The plan is chosen by MEASUREMENT (BENCH/BASELINE.md exact-sweep
    crossover row): the un-resampled ``sum`` sweep runs the zero-Python
    :func:`_sliding_window_exact_relational` (2.5x the kernel at sf0.1 --
    the sweep is pure boundary algebra, Catalyst's home turf); every other
    shape runs the kernel (the dense resample grid is numpy's home turf,
    same verdict as sample_closest).
    """
    if agg == "sum" and sample_rate is None:
        return _sliding_window_exact_relational(
            df, key_cols, window_width, compress=compress
        )
    return _sliding_window_exact_kernel(
        df, key_cols, window_width, agg, sample_rate, use_closest, timeunit,
        compress,
    )


def _sliding_window_exact_kernel(
    df, key_cols, window_width, agg, sample_rate=None, use_closest=True,
    timeunit="ms", compress=True,
) -> DataFrame:
    """``sliding_window_exact``'s kernel route for every shape (the twin
    tests' reference for the relational ``sum`` sweep)."""
    if agg not in _AGG_FACTORIES and agg != "median":
        raise ValueError(f"unknown agg {agg!r}")

    from ..kernel import window as kwin
    from ._kernel import apply_grouped, per_series_kernel

    if agg in kwin._GROUPED_AGGS and (sample_rate is None or use_closest):
        from ..kernel.sample import sample_arrays_closest_grouped

        def _sweep(c, t, v, d):
            if sample_rate is not None:
                rs = sample_arrays_closest_grouped(c, t, v, d, sample_rate)
                if rs is None:
                    return None
                c, t, v, d = rs
            return kwin.window_sweep_grouped(
                c, t, v, d, window_width, agg=agg, timeunit=timeunit
            )

        return apply_grouped(df, key_cols, _sweep, compress=compress)

    def make_agg():
        if agg == "median":
            # the queueAggregator case (CollectAggregator, reference
            # BasicAggregators.scala:127-136 / Aggregator.scala:60-63): the
            # whole window rides along and the aggregate is a function of
            # its contents; empty windows are holes (None)
            import statistics  # noqa: PLC0415

            return kwin.CollectAggregator(
                fn=lambda vals: statistics.median(vals) if vals else None
            )
        cls = getattr(kwin, _AGG_FACTORIES[agg])
        if agg == "integral":
            return cls(timeunit)
        return cls()

    def _sweep_seq(entries):
        return [(ts, a, validity) for (ts, _content, validity), a in kwin.window_sweep(
            entries, window_width, make_agg(), sample_rate, use_closest
        ) if a is not None]

    return apply_grouped(df, key_cols, per_series_kernel(_sweep_seq), compress=compress)


def _sliding_window_exact_relational(
    df: DataFrame,
    key_cols: list[str],
    window_width: int,
    compress: bool = True,
) -> DataFrame:
    """Pure-Catalyst exact sliding ``sum`` sweep over un-resampled entries
    (WindowSlider.scala:114-269) -- zero Python stages.

    The sweep's emission boundaries are exactly the union of ADD events
    (every entry ``ts``) and DROP events (every ``ts + validity + width``,
    where the entry leaves the trailing window): between consecutive events
    the window contents are constant. So the sweep is one boundary-union +
    running-carry plan, like the relational merge: explode each entry into
    a signed add row and a signed drop row, ONE per-key window sort by
    ``(p, ord)`` with drops ordered BEFORE adds at ties (the kernel
    retracts before adding — same float accumulation order, bit-identical
    sums), running-sum the signed contributions, keep the last row of each
    tie group via the ``lead(p) > p`` filter, and clip segments to the
    sweep domain ``[min ts, max until)``. An empty window correctly emits
    0.0 (the running sum of a fully retracted prefix). NaN values surface
    as null, matching the kernel twin's NaN across the Arrow boundary.

    Matches the sequential sweep bit-for-bit and the vectorized kernel
    route up to its ~1e-13 rounding (twin-tested,
    tests/test_relational_merge.py); the crossover vs the vectorized
    kernel is measured in BENCH/BASELINE.md and sets the routing in
    :func:`sliding_window_exact`."""
    from .merge import _nan_as_null, _rle_repair

    if window_width <= 0:
        raise ValueError("Needs a strictly positive window size")

    w_key = Window.partitionBy(*key_cols)
    ent = df.select(*key_cols, "ts", "value", "validity").withColumn(
        "_maxu", F.max(F.col("ts") + F.col("validity")).over(w_key)
    )
    add = F.struct(
        F.col("ts").alias("p"), F.lit(1).alias("ord"),
        F.col("value").alias("x"),
    )
    drop = F.struct(
        (F.col("ts") + F.col("validity") + F.lit(window_width)).alias("p"),
        F.lit(0).alias("ord"),
        (-F.col("value")).alias("x"),
    )
    ev = ent.select(
        *key_cols, "_maxu", F.explode(F.array(add, drop)).alias("e")
    ).select(
        *key_cols, "_maxu",
        F.col("e.p").alias("p"), F.col("e.ord").alias("ord"),
        F.col("e.x").alias("x"),
    )
    w_sort = Window.partitionBy(*key_cols).orderBy("p", "ord")
    w_run = w_sort.rowsBetween(Window.unboundedPreceding, 0)
    segs = (
        ev.select(
            *key_cols, "_maxu", "p",
            F.sum("x").over(w_run).alias("sx"),
            F.lead("p").over(w_sort).alias("np"),
        )
        .where(F.col("np").isNull() | (F.col("np") > F.col("p")))
        .where(F.col("p") < F.col("_maxu"))
    )
    out = segs.select(
        *key_cols,
        F.col("p").alias("ts"),
        F.col("sx").alias("value"),
        (F.least(F.coalesce(F.col("np"), F.col("_maxu")), F.col("_maxu"))
         - F.col("p")).alias("validity"),
    ).where(F.col("validity") > 0)
    if compress:
        out = _rle_repair(out, key_cols)
    return out.select(*key_cols, "ts", _nan_as_null("value"), "validity")


def _rolling_values_relational(
    df: DataFrame,
    key_cols: list[str],
    window_ms: int,
    agg: str = "sum",
    compress: bool = True,
) -> DataFrame:
    """Pure-Catalyst ``rolling`` for the decomposable aggregates (sum /
    mean), zero Python stages.

    The insight (same contiguous-range argument as the kernel,
    kernel/window.py:rolling_grouped): on FITTED entries (ordered,
    disjoint -- the operator's standing precondition) end times are
    increasing, so the entries expelled from entry i's window
    ``[ts_i - window_ms, ts_i)`` form a PREFIX of the series: exactly
    those j with ``end_j <= ts_i - window_ms``. Hence

        rolling_i = cumsum_i - cumsum_{removed(i)}

    where ``removed(i)`` resolves with the same single-sort carry trick as
    the relational merge: union each entry's end event (carrying its
    cumulative sum/count) with a probe at ``ts_i - window_ms`` (carrying
    the entry's own cumulative row), sort per key by (point, kind) with
    end events first at ties (``end_j <= p`` removes), and take the
    running last end-carry at each probe. Two window sorts over one
    per-key exchange; the optional RLE compression is the merge engine's
    gaps-and-islands pass. Matches the contiguous-range kernel route
    exactly (twin-tested)."""
    from .merge import _rle_repair

    if window_ms <= 0:
        raise ValueError("Needs a strictly positive window size")
    if agg not in ("sum", "mean"):
        raise ValueError(
            f"relational rolling supports sum|mean, got {agg!r}"
        )
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ent = df.select(
        *key_cols, "ts", "value", "validity",
        F.sum("value").over(w_cum).alias("_s"),
        F.count(F.lit(1)).over(w_cum).alias("_c"),
    )
    probes = ent.select(
        *key_cols,
        (F.col("ts") - F.lit(window_ms)).alias("p"),
        F.lit(1).alias("kind"),
        F.struct("ts", "value", "validity", "_s", "_c").alias("row"),
        F.lit(None).cast("struct<s:double,c:bigint>").alias("endc"),
    )
    ends = ent.select(
        *key_cols,
        (F.col("ts") + F.col("validity")).alias("p"),
        F.lit(0).alias("kind"),
        F.lit(None).cast(
            "struct<ts:bigint,value:double,validity:bigint,_s:double,_c:bigint>"
        ).alias("row"),
        F.struct(F.col("_s").alias("s"), F.col("_c").alias("c")).alias("endc"),
    )
    w_carry = (
        Window.partitionBy(*key_cols)
        .orderBy("p", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        probes.unionByName(ends)
        .withColumn(
            "_rm", F.last("endc", ignorenulls=True).over(w_carry)
        )
        .where(F.col("kind") == 1)
    )
    s = F.col("row._s") - F.coalesce(F.col("_rm.s"), F.lit(0.0))
    c = F.col("row._c") - F.coalesce(F.col("_rm.c"), F.lit(0))
    value = s if agg == "sum" else s / c
    out = carried.select(
        *key_cols,
        F.col("row.ts").alias("ts"),
        value.alias("value"),
        F.col("row.validity").alias("validity"),
    )
    if not compress:
        return out
    return _rle_repair(out, key_cols).select(
        *key_cols, "ts", "value", "validity"
    )


def rolling_values(
    df: DataFrame,
    key_cols: list[str],
    window_ms: int,
    agg: str = "sum",
    compress: bool = True,
) -> DataFrame:
    """NumericTimeSeries.rolling (scala:49-64): every entry's value becomes
    the aggregate of the VALUES of entries overlapping ``[ts - window_ms,
    ts)`` plus its own; timestamps and validities are unchanged (then
    optionally RLE-compressed like any mapEntries result).

    Not expressible as a Spark range frame (an entry enters the window
    through its END time, which is another row's attribute) -- but for the
    DECOMPOSABLE aggregates (sum/mean) it IS expressible as cumulative sums
    minus an as-of carry over end events, so those run the pure-Catalyst
    :func:`_rolling_values_relational` (zero Python). Every other agg
    (min/max: order statistics need the kernel's sparse-table RMQ) runs
    the contiguous-range kernel (kernel.window.rolling_grouped: one
    searchsorted + prefix sums / RMQ -- same argument as the exact sweep)
    per salt bucket through ``operators._kernel.apply_grouped``, per series
    on packed-axis overflow; arbitrary aggregators via
    kernel.window.rolling."""
    if agg in ("sum", "mean"):
        return _rolling_values_relational(
            df, key_cols, window_ms, agg=agg, compress=compress
        )
    return _rolling_values_kernel(df, key_cols, window_ms, agg, compress)


def _rolling_values_kernel(
    df, key_cols, window_ms, agg="sum", compress=True
) -> DataFrame:
    """``rolling_values``' kernel route for every agg (the twin tests'
    reference for the relational sum/mean)."""
    from ..kernel import window as kwin
    from ._kernel import apply_grouped

    return apply_grouped(
        df, key_cols,
        lambda c, t, v, d: kwin.rolling_grouped(c, t, v, d, window_ms, agg=agg),
        compress=compress,
    )


def dynamic_window_exact(
    df: DataFrame,
    key_cols: list[str],
    start_pred,
    stop_pred,
    agg: str = "mean",
    timeunit: str = "ms",
) -> DataFrame:
    """Predicate-delimited windows (WindowSlider.scala:286-319): a window
    opens at the first entry where ``start and not stop`` holds and extends
    up to (excluding) the next entry where ``stop`` holds; one output entry
    per window spanning its loose domain.

    ``start_pred``/``stop_pred`` are Python callables over a (ts, value,
    validity) tuple (value as a double), evaluated in the sequential kernel
    once per series through ``operators._kernel.apply_grouped``'s per-series
    mode. ``agg``: sum | mean | std | min | max | integral; any other
    raises ``ValueError`` at call time. Relational equivalents (flag +
    cumulative-stop-count sessionization) exist for column predicates -- the
    ts_dynamic_window oracle in __spark_entry__ shows the SQL shape.
    """
    if agg not in _AGG_FACTORIES:
        raise ValueError(f"unknown agg {agg!r}")

    from ..kernel import window as kwin
    from ._kernel import apply_grouped, per_series_kernel

    def make_agg():
        cls = getattr(kwin, _AGG_FACTORIES[agg])
        return cls(timeunit) if agg == "integral" else cls()

    return apply_grouped(df, key_cols, per_series_kernel(
        lambda entries: kwin.dynamic_window(entries, start_pred, stop_pred, make_agg)
    ))


def dynamic_window_relational(
    df: DataFrame,
    key_cols: list[str],
    start_expr,
    stop_expr,
    agg: str = "mean",
    timeunit: str = "ms",
) -> DataFrame:
    """dynamicWindow (WindowSlider.scala:286-319) for COLUMN predicates --
    100% Catalyst, no Python: a window opens at the first entry satisfying
    ``start and not stop`` and extends until the next entry satisfying
    ``stop``. Sessionization is the flag + cumulative-stop-count pattern:
    the running count of prior stop rows is the session id, sessions keep
    their non-stop rows from the first start row on, and one entry per
    session spans its loose domain.

    ``agg``: mean (time-weighted) | sum | min | max | integral. For
    arbitrary Python predicates use dynamic_window_exact (same semantics,
    kernel-based; equivalence pinned in tests)."""
    from ..kernel.integral import seconds_factor

    w_ord = Window.partitionBy(*key_cols).orderBy("ts")
    flagged = df.withColumn("_stp", stop_expr.cast("int")).withColumn(
        "_strt", (start_expr & ~stop_expr).cast("int")
    )
    seg = F.coalesce(
        F.sum("_stp").over(
            w_ord.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    flagged = flagged.withColumn("_seg", seg).filter(F.col("_stp") == 0)
    w_seg = Window.partitionBy(*key_cols, "_seg")
    wstart = F.min(F.when(F.col("_strt") == 1, F.col("ts"))).over(w_seg)
    rows_in = flagged.withColumn("_wstart", wstart).filter(
        F.col("_wstart").isNotNull() & (F.col("ts") >= F.col("_wstart"))
    )
    v, d = F.col("value"), F.col("validity")
    if agg == "mean":
        expr = F.sum(v * d) / F.sum(d)
    elif agg == "sum":
        expr = F.sum(v)
    elif agg == "min":
        expr = F.min(v)
    elif agg == "max":
        expr = F.max(v)
    elif agg == "integral":
        expr = F.sum(v * d * F.lit(seconds_factor(timeunit)))
    else:
        raise ValueError(f"unknown agg {agg!r}")
    return rows_in.groupBy(*key_cols, "_wstart").agg(
        expr.alias("value"),
        (F.max(F.col("ts") + d) - F.first("_wstart")).alias("validity"),
    ).withColumnRenamed("_wstart", "ts").select(
        *key_cols, "ts", "value", "validity"
    )


def sample_closest(
    df: DataFrame,
    key_cols: list[str],
    rate: int,
    compress: bool = False,
) -> DataFrame:
    """Closest-in-window sampling (TimeSeries.scala:598-646,
    useClosestInWindow=true): at each grid point ``first_ts + k*rate`` take
    the value of the entry starting closest to the point within
    ``[p - rate/2, p + rate/2)``, falling back to the entry defined at the
    point.

    Runs the vectorized kernel (kernel.sample.sample_arrays_closest_grouped,
    one call per salt bucket through ``operators._kernel.apply_grouped``,
    per series on packed-axis overflow; pinned against the sequential
    sampler by fuzz and against DuckDB by the ts_sample_closest oracle). A pure-Catalyst twin (two as-of carries over
    one per-key sort) was measured slower on every shape (sf0.01/sf0.1, 32
    cores, best-of-3): ~1.2x on the sliced query shape and 19x on dense
    grids (27.6M grid points: numpy arange + searchsorted vs 55M rows
    through two window sorts), so dense-grid generation stays in numpy."""
    from ..kernel.sample import sample_arrays_closest_grouped
    from ._kernel import apply_grouped

    return apply_grouped(
        df, key_cols,
        lambda c, t, v, d: sample_arrays_closest_grouped(c, t, v, d, rate),
        compress=compress,
    )
