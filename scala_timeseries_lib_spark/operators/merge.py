"""DataFrame-level interval merges (the reference's join family, SURVEY.md 2.6).

The merge is a sort-merge full-outer *interval-alignment* join on time, per
series key. Spark's hash-partitioned cogroup does the heavy lifting (one
shuffle per side on the key); the per-key interval logic runs vectorized in
the numpy kernel (``kernel.merge.merge_apply_numeric``) over Arrow batches.

For the named numeric operators the kernel path is fully vectorized
(searchsorted over the boundary union); a generic Python ``op`` callable is
also supported at reduced speed (kernel.merge.merge_entries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

__all__ = [
    "merge_series",
    "merge_series_n",
    "strict_zip_series",
    "merge_series_relational",
    "merge_series_n_relational",
    "strict_zip_series_relational",
    "NUMERIC_OPS",
    "HOT_KEY_THRESHOLD",
]

NUMERIC_OPS = (
    "plus", "plus_strict", "minus", "minus_strict", "multiply_strict", "fallback",
)

# offset packing maps (series_code, ts) to code*stride + (ts-base); past this
# product the packed axis would overflow int64 (headroom of 2 bits kept)
_PACK_LIMIT = 1 << 62


def _pack_codes(codes, ts, dur):
    """Disjoint per-series int64 time regions, or None when the bucket's
    (n_series x time-span) product would overflow the packed axis --
    ``_kernel.apply_grouped`` then reruns the kernel once per series
    (correct, just not batch-vectorized). Millions of series x multi-year
    ms spans approach 2^63 silently without this guard."""
    import numpy as np

    base = int(ts.min())
    stride = int((ts + dur).max()) - base + 1
    n_codes = int(codes.max()) + 1
    if n_codes * stride >= _PACK_LIMIT:
        return None, stride, base
    return codes.astype(np.int64) * stride + (ts - base), stride, base


def _packed_sides(codes, ts, val, dur, side, n_sides, merge_fn, needs_ranges=False):
    """The merge family's grouped kernel body: offset-pack the bucket (every
    series gets a disjoint ``[code*stride, (code+1)*stride)`` region of the
    int64 time axis, so segments never cross series), split it by side
    (each side is already time-ordered: ``apply_grouped`` sorts by key and ts),
    run ``merge_fn(sides, valid_ranges) -> (ts, *values, validity)`` once
    for the whole bucket and unpack to ``(codes, ts, *values, validity)``.
    Returns None on packed-axis overflow. ``needs_ranges`` passes the
    per-series packed spans so ops that fill (undefined, undefined) segments
    leave the inter-series gaps as holes."""
    import numpy as np

    packed, stride, base = _pack_codes(codes, ts, dur)
    if packed is None:
        return None
    valid_ranges = None
    if needs_ranges:
        n_codes = int(codes.max()) + 1
        span_lo = np.full(n_codes, np.iinfo(np.int64).max)
        span_hi = np.full(n_codes, np.iinfo(np.int64).min)
        np.minimum.at(span_lo, codes, packed)
        np.maximum.at(span_hi, codes, packed + dur)
        valid_ranges = (span_lo, span_hi)
    sides = [(packed[m], val[m], dur[m]) for m in (side == i for i in range(n_sides))]
    out_ts, *rest = merge_fn(sides, valid_ranges)
    return (out_ts // stride, out_ts % stride + base, *rest)


def _route_engine(engine, relational_ok, tagged, key_cols, merge_fn,
                  skew_guard, hot_threshold, time_slice=None):
    """The merge family's engine choice. ``"auto"`` builds the relational
    plan ``merge_fn(tagged, time_slice)`` when ``relational_ok``, through
    the hot-key routing when ``skew_guard``; returns None when the kernel
    must run (``"kernel"``, or a shape only the kernel supports)."""
    if engine not in ("auto", "kernel"):
        raise ValueError(f"unknown engine {engine!r}")
    if engine == "kernel" or not relational_ok:
        return None
    if not skew_guard:
        return merge_fn(tagged, time_slice)
    return _route_hot_keys(
        tagged, key_cols, merge_fn,
        hot_threshold if hot_threshold is not None else HOT_KEY_THRESHOLD,
    )


def merge_series(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    op="plus",
    compress: bool = True,
    time_slice: int | None = None,
    left_default: float | None = None,
    right_default: float | None = None,
    engine: str = "auto",
    skew_guard: bool = True,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Merge two entries tables series-by-series.

    ``op``: one of ``plus`` (non-strict, NumericTimeSeries.scala:18-26),
    ``minus`` (non-strict with optional per-side defaults,
    NumericTimeSeries.scala:37-45 -- ``left_default``/``right_default`` fill
    the missing side; a hole where the needed default is None),
    ``plus_strict``/``minus_strict``/``multiply_strict``
    (TimeSeries.scala:277-328), ``fallback`` (TimeSeries.scala:530-534), OR
    an arbitrary Python callable ``(a_or_None, b_or_None) -> float_or_None``
    (the reference's core ``merge`` API, TimeSeries.scala:261; segmentation
    and compression stay vectorized, only the opaque operator runs per
    elementary segment). Keys present on only one side behave as merging
    with the empty series (strict ops yield nothing; non-strict ops pass the
    defined side through).

    ``engine`` picks the physical strategy:

    - ``"auto"`` (default) — named ops with ``compress=True`` run the
      pure-Catalyst plan (:func:`merge_series_relational`, no Python stage):
      boundary explode → one per-key window sort computing segment ``lead``
      and per-side carried values → op expression → gaps-and-islands RLE.
      One shuffle end-to-end; measured faster than the kernel at sf0.1 (see
      BENCH/BASELINE.md crossover note). ``time_slice`` works here too:
      (key, slice) window partitions plus the per-key RLE border repair.
      Callable ops and ``compress=False`` run the kernel. With
      ``skew_guard`` (default on), auto also
      routes by KEY POPULATION: any key above ``hot_threshold`` (default
      ``HOT_KEY_THRESHOLD`` = 1M entries, the measured crossover) merges
      through an auto-sized ``time_slice`` while the rest keep the plain
      one-shuffle plan — no caller hint needed for the pathological
      single-series case. Identical output on every route (pinned).
      Detection is staged cheapest-first (see ``_route_hot_keys``): a
      no-job leaf row-count bound proves small inputs hot-key-free and
      keeps the plan FULLY LAZY; otherwise a 1% sampled count probes for
      candidates (one lightweight job, no materialization); only a flagged
      candidate triggers the exact materialize-and-count routing pass.
      Set ``skew_guard=False`` to skip even the probe (the plain relational
      plan). The guard is skipped for ops that cannot slice (minus with
      both defaults) and when ``time_slice`` is given.
    - ``"kernel"`` — the offset-packed Arrow/numpy bucket kernel for every
      op (``operators._kernel.apply_grouped``; one vectorized call per salt
      bucket, per series only when the packed time axis would overflow).

    ``time_slice`` (ms) is the hot-series escape hatch: one series is
    otherwise inherently sequential inside its kernel call, so a single
    pathological key (a domain with billions of snapshots) would create a
    straggler. With a slice width set, both sides are pre-split at absolute
    ``k*time_slice`` boundaries JVM-side, each (key, slice) merges as an
    independent group (the boundary-union merge is local in time), and a
    relational gaps-and-islands pass re-merges equal contiguous runs across
    slice borders -- the result is identical to the unsliced merge (pinned
    by test). Requires ``compress=True`` (the border re-fit is an RLE).
    """
    is_callable = callable(op)
    if not is_callable and op not in NUMERIC_OPS:
        raise ValueError(f"unknown op {op!r}; expected callable or {NUMERIC_OPS}")
    # ops that may emit a value on an (undefined, undefined) segment cannot
    # be time-sliced on either engine (holes crossing slice borders would be
    # filled per-slice), and the kernel passes them the per-series spans so
    # packed inter-region gaps stay holes
    needs_ranges = is_callable or (
        op == "minus" and left_default is not None and right_default is not None
    )
    if time_slice is not None and needs_ranges:
        raise ValueError(
            "time_slice cannot be combined with an op that fills "
            "(undefined, undefined) segments (callable op, or minus with "
            "both defaults): holes crossing slice borders would not be "
            "filled"
        )
    tagged = _tag_sides_n([left, right], key_cols)
    routed = _route_engine(
        engine, not is_callable and compress, tagged, key_cols,
        lambda t, ts: _merge_tagged_relational(
            t, key_cols, op=op, left_default=left_default,
            right_default=right_default, time_slice=ts,
        ),
        skew_guard and time_slice is None and not needs_ranges,
        hot_threshold, time_slice,
    )
    if routed is not None:
        return routed

    from ..kernel.merge import merge_apply_callable, merge_apply_numeric
    from ._kernel import apply_grouped

    def _merge(sides, valid_ranges):
        if is_callable:
            return merge_apply_callable(
                *sides[0], *sides[1], op=op, compress=compress,
                valid_ranges=valid_ranges,
            )
        return merge_apply_numeric(
            *sides[0], *sides[1], op=op, compress=compress,
            left_default=left_default, right_default=right_default,
            valid_ranges=valid_ranges,
        )

    group_cols = key_cols
    if time_slice is not None:
        if not compress:
            raise ValueError("time_slice requires compress=True")
        from .series_ops import split_at_buckets

        # split_at_buckets carries the side tag through the explode
        tagged = split_at_buckets(tagged, time_slice).withColumnRenamed(
            "bucket", "_slice"
        )
        group_cols = [*key_cols, "_slice"]
    merged = apply_grouped(
        tagged, group_cols,
        lambda c, t, v, d, side: _packed_sides(
            c, t, v, d, side, 2, _merge, needs_ranges
        ),
    )
    if time_slice is None:
        return merged
    return _rle_repair(merged.drop("_slice"), key_cols)


def _rle_repair(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Relational gaps-and-islands RLE: merge adjacent contiguous equal-value
    entries across slice borders (one window + one aggregation, JVM-side)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy("ts")
    prev_end = F.lag(F.col("ts") + F.col("validity")).over(w)
    prev_val = F.lag("value").over(w)
    # NaN always breaks: Spark's NaN = NaN is true, but the kernel twins
    # compress with numpy equality (NaN != NaN), keeping NaN runs split
    brk = F.when(
        prev_end.isNull()
        | (prev_end != F.col("ts"))
        | (prev_val != F.col("value"))
        | F.isnan(F.col("value")),
        1,
    ).otherwise(0)
    island = F.sum(brk).over(
        Window.partitionBy(*key_cols).orderBy("ts").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    return (
        df.withColumn("_island", island)
        .groupBy(*key_cols, "_island")
        .agg(
            F.min("ts").alias("ts"),
            F.min("value").alias("value"),  # equal within an island
            (F.max(F.col("ts") + F.col("validity")) - F.min("ts")).alias(
                "validity"
            ),
        )
        .drop("_island")
    )


def _boundary_rows(tagged: DataFrame, key_cols: list[str], n_value_cols: int = 1):
    """Explode each fitted entry into a start row (carrying ``struct(end,
    value…)``) and an end row (carrying null), the shared scaffold of the
    relational merges.

    Returns the exploded frame plus the two windows every relational merge
    uses: ``w_carry`` (running frame for per-side carried values) and
    ``w_lead`` (same sort, for the segment ``lead``). Both share one
    physical sort: partition by key, order by ``(p, is_start)`` — end
    markers sort BEFORE starts at the same instant, so an entry beginning
    exactly where another ends takes effect on the new segment. Among tie
    rows only the physically-last one survives the ``lead(p) > p`` segment
    filter, and its running frame has absorbed every tie row, so ties are
    handled without a distinct."""
    from pyspark.sql import Window

    value_fields = (
        [F.col("value")] if n_value_cols == 1
        else [F.col(f"value{i}") for i in range(n_value_cols)]
    )
    start = F.struct(
        F.col("ts").alias("p"),
        F.lit(1).alias("is_start"),
        F.struct(
            (F.col("ts") + F.col("validity")).alias("end"),
            *[v.alias(f"v{i}") for i, v in enumerate(value_fields)],
        ).alias("carry"),
    )
    # the end row's carry is a typed null: when(False, <same struct>) keeps
    # the array element types identical without spelling the type twice
    rows = (
        tagged.select(
            *key_cols,
            "side",
            F.explode(
                F.array(
                    start,
                    F.struct(
                        (F.col("ts") + F.col("validity")).alias("p"),
                        F.lit(0).alias("is_start"),
                        F.when(
                            F.lit(False),
                            F.struct(
                                (F.col("ts") + F.col("validity")).alias("end"),
                                *[
                                    v.alias(f"v{i}")
                                    for i, v in enumerate(value_fields)
                                ],
                            ),
                        ).alias("carry"),
                    ),
                )
            ).alias("ev"),
        )
        .select(
            *key_cols, "side",
            F.col("ev.p").alias("p"),
            F.col("ev.is_start").alias("is_start"),
            F.col("ev.carry").alias("carry"),
        )
    )
    w_sort = Window.partitionBy(*key_cols).orderBy("p", "is_start")
    w_carry = w_sort.rowsBetween(Window.unboundedPreceding, 0)
    return rows, w_carry, w_sort


def _carried_value(side_idx: int, w_carry, value_field: str = "v0"):
    """Value of side ``side_idx`` active on the segment starting at this
    row's ``p``: last start-carry of that side, still covering p."""
    carry = F.last(
        F.when(
            (F.col("side") == side_idx) & (F.col("is_start") == 1),
            F.col("carry"),
        ),
        ignorenulls=True,
    ).over(w_carry)
    return F.when(carry["end"] > F.col("p"), carry[value_field])


def _merge_value_expr(op, a, b, left_default, right_default):
    """The kernel's op table (kernel/merge.py:_NUMERIC_OPS and
    op_non_strict_minus) as a Catalyst CASE expression. Branch order mirrors
    the kernel exactly (both → only-A → only-B → neither) so single-sided
    segments pass the side's value through bit-identically (not value+0.0,
    which would flip -0.0)."""
    if op == "plus":
        return (
            F.when(a.isNotNull() & b.isNotNull(), a + b)
            .when(a.isNotNull(), a)
            .when(b.isNotNull(), b)
        )
    if op == "plus_strict":
        return a + b
    if op == "minus_strict":
        return a - b
    if op == "multiply_strict":
        return a * b
    if op == "fallback":
        return F.coalesce(a, b)
    if op == "minus":
        only_a = (
            a - F.lit(float(right_default)) if right_default is not None
            else F.lit(None).cast(DoubleType())
        )
        only_b = (
            F.lit(float(left_default)) - b if left_default is not None
            else F.lit(None).cast(DoubleType())
        )
        neither = (
            F.lit(float(left_default) - float(right_default))
            if left_default is not None and right_default is not None
            else F.lit(None).cast(DoubleType())
        )
        return (
            F.when(a.isNotNull() & b.isNotNull(), a - b)
            .when(a.isNotNull(), only_a)
            .when(b.isNotNull(), only_b)
            .otherwise(neither)
        )
    raise ValueError(f"unknown relational op {op!r}")


def merge_series_relational(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    op: str = "plus",
    left_default: float | None = None,
    right_default: float | None = None,
    time_slice: int | None = None,
) -> DataFrame:
    """Pure-Catalyst binary interval merge (TimeSeriesMerger.scala:13-196
    semantics, zero Python stages).

    Shape: explode each fitted entry into (start, end) boundary rows; ONE
    per-key window sort yields both the elementary segment ``[p, lead(p))``
    and each side's active value on it (running ``last`` of the side's
    start-carry, masked by its ``end``); the kernel's op table runs as a
    CASE expression; gaps-and-islands RLE-compresses equal contiguous runs.
    One shuffle end-to-end — the islands window and final groupBy reuse the
    per-key hash partitioning (``(key)`` satisfies the ``(key, island)``
    clustering), and the whole plan is JVM codegen + two sorts.

    ``time_slice`` (ms) is the hot-KEY escape hatch, same contract as the
    kernel path: one key is otherwise one window partition (a single sort
    task), so a pathological series would straggle. With a slice width set,
    both sides are pre-split at absolute ``k*time_slice`` boundaries, every
    (key, slice) merges as an independent window partition, and the final
    gaps-and-islands pass (which runs per KEY regardless) re-merges equal
    contiguous runs across slice borders — identical output, pinned by
    test. Not valid for ops that fill (undefined, undefined) segments
    (minus with both defaults): interior holes crossing borders would be
    filled per-slice. ``merge_series(engine="auto")`` picks the slice
    automatically for measured-hot keys (see ``skew_guard``).

    Matches ``merge_series(engine="kernel", compress=True)`` exactly; pinned
    by the randomized twin test (tests/test_relational_merge.py)."""
    if time_slice is not None and (
        op == "minus" and left_default is not None and right_default is not None
    ):
        raise ValueError(
            "time_slice cannot be combined with an op that fills "
            "(undefined, undefined) segments"
        )
    return _merge_tagged_relational(
        _tag_sides_n([left, right], key_cols), key_cols, op=op,
        left_default=left_default, right_default=right_default,
        time_slice=time_slice,
    )


def _merge_tagged_relational(
    tagged: DataFrame,
    key_cols: list[str],
    op: str,
    left_default: float | None = None,
    right_default: float | None = None,
    time_slice: int | None = None,
) -> DataFrame:
    """Relational merge body over an already side-tagged union frame (the
    skew guard feeds filtered subsets of one materialized union here)."""
    group_cols = list(key_cols)
    if time_slice is not None:
        from .series_ops import split_at_buckets

        # split_at_buckets carries the side tag through the explode
        tagged = split_at_buckets(tagged, time_slice).withColumnRenamed(
            "bucket", "_slice"
        )
        group_cols = [*key_cols, "_slice"]
    rows, w_carry, w_sort = _boundary_rows(tagged, group_cols)
    a = _carried_value(0, w_carry)
    b = _carried_value(1, w_carry)
    segs = rows.select(
        *group_cols,
        F.col("p").alias("ts"),
        (F.lead("p").over(w_sort) - F.col("p")).alias("validity"),
        _merge_value_expr(op, a, b, left_default, right_default).alias("value"),
    ).where(F.col("validity").isNotNull() & (F.col("validity") > 0)
            # NaN results drop too: the kernel twin uses NaN as its hole
            # sentinel, so a NaN input value yields a hole there; match it
            & F.col("value").isNotNull() & ~F.isnan("value"))
    if time_slice is not None:
        segs = segs.drop("_slice")
    return _rle_repair(segs, key_cols).select(
        *key_cols, "ts", "value", "validity"
    )


# Skew-guard defaults, measured on the 4M-entry hot-series torture
# (tools/skew_bench.py, BENCH/BASELINE.md skew table): relational-plain
# loses to relational-sliced ~2.5x at 4M entries per key; at ~1M entries
# the single sort task starts to dominate a 32-wide stage.
HOT_KEY_THRESHOLD = 1_000_000
# target entries per (key, slice) window partition for auto-sized slices:
# enough slices to spread one hot key across a stage, coarse enough that
# boundary duplication + RLE border repair stay negligible
_HOT_SLICE_TARGET = 100_000
# above this many hot keys the per-key split predicate stops being a cheap
# broadcast filter; slice the whole merge instead (output is identical)
_MAX_HOT_KEYS = 64
# sampled hot-key detection (guide §2.5: a 1M-entry key cannot hide from a
# 1% sample): detection runs on tagged.sample(_GUARD_SAMPLE_FRACTION) with
# the threshold halved for margin. Chernoff bound on the false-negative
# rate: a truly hot key (n >= hot_threshold) yields Binomial(n, 0.01)
# sampled rows with mean >= 10_000 at the default threshold; the halved cut
# (5_000) is missed with P < exp(-mean/8) ~ e^-1250 -- never. Sampling is
# only used when hot_threshold * fraction >= _GUARD_SAMPLE_MIN_ROWS, i.e.
# the expected sample of a threshold-sized key is big enough for that bound
# to have teeth; below it (tiny thresholds, only seen in tests) detection
# falls back to the exact materialize-and-count pass.
_GUARD_SAMPLE_FRACTION = 0.01
_GUARD_SAMPLE_SEED = 0xC0FFEE
_GUARD_SAMPLE_MIN_ROWS = 50
# reading parquet footers is a driver-side metadata touch per file; past
# this many files a sampled count job is cheaper than the listing
_GUARD_BOUND_MAX_FILES = 256


# analyzed-plan node classes that never emit more rows than their children
# together, so a leaf row total bounds any tree built from them alone.
# Everything else -- joins, generate/explode, expand, pandas/Arrow map
# nodes, sampling (with replacement it can repeat rows), and classes this
# list has not met -- voids the bound.
_NON_EXPANDING_NODES = frozenset({
    "Deduplicate", "Distinct", "Filter", "GlobalLimit", "LocalLimit",
    "LocalRelation", "LogicalRelation", "Project", "Repartition",
    "RepartitionByExpression", "ResolvedHint", "Sort", "SubqueryAlias",
    "Union", "View", "Window",
})


def _plan_leaves(df: DataFrame):
    """Leaves of the analyzed plan, or None unless every node's class is in
    ``_NON_EXPANDING_NODES`` -- leaf-based row bounds are then unsound.
    The ANALYZED plan is already computed eagerly at DataFrame
    construction, so walking it costs no new Catalyst pass (the optimizer
    only ever removes/fuses operators, never adds row-expanding ones, so
    the check carries over to the executed plan). Classes are read from
    the JVM nodes, so column names cannot sway the check."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        leaves = []
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() not in _NON_EXPANDING_NODES:
                return None
            kids = node.children()
            n = kids.size()
            if n == 0:
                leaves.append(node)
            stack.extend(kids.apply(i) for i in reversed(range(n)))
        return leaves
    except Exception:
        return None


def _leaf_row_bound(df: DataFrame) -> int | None:
    """Upper bound on ``df``'s row count with NO Spark job: the sum of leaf
    row counts (parquet footer metadata / local-relation sizes), valid only
    when the plan contains no row-expanding operator (see
    :func:`_plan_leaves`). Those node classes never emit more rows than
    their children, so the leaf total bounds every such plan. Returns None
    when the bound is unavailable or would be unsound -- callers must then
    detect the hard way. Cost: one footer read per leaf file, capped at
    ``_GUARD_BOUND_MAX_FILES``."""
    leaves = _plan_leaves(df)
    if leaves is None:
        return None
    try:
        total = 0
        n_files = 0
        import pyarrow.parquet as pq  # noqa: PLC0415

        for leaf in leaves:
            cls = leaf.getClass().getSimpleName()
            if cls == "LocalRelation":
                total += leaf.data().size()
                continue
            if cls != "LogicalRelation":
                return None
            for f in leaf.relation().location().inputFiles():
                n_files += 1
                if n_files > _GUARD_BOUND_MAX_FILES:
                    return None
                if f.startswith("file:"):
                    f = f[5:]
                elif "://" in f:
                    return None  # remote store: footers are not a free read
                total += pq.ParquetFile(f).metadata.num_rows
        return total
    except Exception:
        return None


def _leaf_key_frame(df: DataFrame, key_cols: list[str]) -> DataFrame | None:
    """The key columns of ``df``'s LEAF parquet relations, rebuilt as a
    fresh scan -- a sound OVER-approximation of ``df``'s per-key row
    counts (the plan has no row-expanding operator per
    :func:`_plan_leaves`, and everything else only drops rows), at the
    cost of a column-pruned parquet scan instead of recomputing the full
    derivation lineage (shuffles, windows) just to count sampled keys.

    Only valid when every leaf is a parquet relation exposing ALL key
    columns by name -- true for every operator in this package (entries
    tables' key columns pass through projections unrenamed). A caller who
    aliased an unrelated leaf column into a key name would misdirect the
    probe; the consequence is bounded to a missed routing (performance),
    never a wrong result. Returns None when unavailable -- callers then
    probe the real lineage."""
    leaves = _plan_leaves(df)
    if leaves is None:
        return None
    try:
        spark = df.sparkSession
        parts = []
        for leaf in leaves:
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                return None
            rel = leaf.relation()
            if "Parquet" not in rel.fileFormat().toString():
                return None
            names = {f.name() for f in rel.schema().fields()}
            if not all(k in names for k in key_cols):
                return None
            files = list(rel.location().inputFiles())
            if not files:
                return None
            parts.append(spark.read.parquet(*files).select(*key_cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    except Exception:
        return None


def _hot_key_predicate(key_cols, hot_rows):
    """OR-of-ANDs membership predicate for a small hot-key set (null-safe:
    a null key component must still route)."""
    import functools
    import operator

    conds = []
    for r in hot_rows:
        eqs = [F.col(k).eqNullSafe(F.lit(r[k])) for k in key_cols]
        conds.append(functools.reduce(operator.and_, eqs))
    return functools.reduce(operator.or_, conds)


def _route_hot_keys(
    tagged: DataFrame,
    key_cols: list[str],
    merge_fn,
    hot_threshold: int,
) -> DataFrame:
    """AQE-style skew routing shared by the whole relational merge family
    (the north rule's hot-domain mandate, BASELINE.json:14). Detection is
    staged cheapest-first so the common no-hot-key case pays (nearly)
    nothing (round-6 optimization; guide §2.5):

    1. **Row-count floor, no job.** If the plan's leaf row-count bound
       (:func:`_leaf_row_bound`, parquet footers -- sound because the merge
       input plan has no row-expanding operator) is ``<= hot_threshold``,
       NO key can be hot: return the fully lazy plain plan untouched.
    2. **Sampled probe, one lightweight job.** Per-key counts over a
       ``_GUARD_SAMPLE_FRACTION`` sample, flagged at half the scaled
       threshold -- a hot key cannot hide from a 1% sample (Chernoff bound
       above). No materialization, no checkpoint: the probe recomputes the
       input lineage once, but moves only sampled keys through a tiny
       partial-aggregated shuffle. Nothing flagged -> fully lazy plain
       plan. (Used only when ``hot_threshold * fraction >=
       _GUARD_SAMPLE_MIN_ROWS``; tiny thresholds go straight to 3.)
    3. **Exact routing, rare path.** Only with a flagged candidate is the
       projected union materialized ONCE (``localCheckpoint`` -- the same
       bytes the merge shuffle was about to move anyway) and counted
       exactly, then routed:

       - no key above ``hot_threshold``      -> the plain one-shuffle plan;
       - a few hot keys (<= _MAX_HOT_KEYS)   -> hot keys merge sliced (each
         key's OWN width, sized so each (key, slice) holds
         ~_HOT_SLICE_TARGET entries; keys are grouped into power-of-two
         width buckets so one temporally dense key cannot force the finest
         width on every other), the rest keep the plain plan, results
         unioned -- the bulk pays zero tax;
       - pathologically many hot keys        -> slice the whole merge.

    ``merge_fn(tagged_subset, time_slice_or_None)`` builds the engine plan.
    Output is identical on every route (pinned by tests); only the physical
    window partitioning changes. Callers who cannot afford even the sampled
    probe set ``skew_guard=False``.

    Failure modes, documented: ``localCheckpoint`` (rare path only) is
    non-reliable storage -- on a real cluster an executor loss invalidates
    the checkpointed blocks and downstream queries on the returned frame
    fail; acceptable here because the path only runs when a hot key was
    already flagged, the routed plan reads the materialized input 2-3
    times, and re-running the query re-materializes. The sampled probe adds
    one recomputation of the input lineage (a scan at 100 TB) -- still far
    cheaper than materializing the full union to executor disks, which is
    what the round-5 guard did on EVERY merge.
    """
    bound = _leaf_row_bound(tagged)
    if bound is not None and bound <= hot_threshold:
        return merge_fn(tagged, None)
    frac = _GUARD_SAMPLE_FRACTION
    if hot_threshold * frac >= _GUARD_SAMPLE_MIN_ROWS:
        import math  # noqa: PLC0415

        cut = math.ceil(hot_threshold * frac / 2.0)
        # probe the cheapest sound over-approximation available: the raw
        # leaf key columns (a column-pruned parquet scan, no lineage
        # shuffles/windows) when the plan allows it, the real tagged
        # lineage otherwise
        probe_src = _leaf_key_frame(tagged, key_cols)
        if probe_src is None:
            probe_src = tagged
        probed = (
            probe_src.sample(fraction=frac, seed=_GUARD_SAMPLE_SEED)
            .groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= cut)
            .limit(1)
            .collect()
        )
        if not probed:
            return merge_fn(tagged, None)
    tagged = tagged.localCheckpoint(eager=True)
    hot = (
        tagged.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("ts").alias("_lo"),
            F.max(F.col("ts") + F.col("validity")).alias("_hi"),
        )
        .filter(F.col("_n") > hot_threshold)
        .limit(_MAX_HOT_KEYS + 1)
        .collect()
    )
    if not hot:
        return merge_fn(tagged, None)

    # per-key slice width: the finest width that still yields
    # ~_HOT_SLICE_TARGET entries per slice (span * target / n), so a key
    # packed into a day splits as surely as one spread over years
    def _width(r):
        return max(
            1, (int(r["_hi"]) - int(r["_lo"])) * _HOT_SLICE_TARGET // int(r["_n"])
        )

    if len(hot) > _MAX_HOT_KEYS:
        return merge_fn(tagged, min(_width(r) for r in hot))
    # group hot keys into power-of-two width buckets (each bucket merges at
    # its finest member width): a wide-span key is no longer exploded into
    # the pieces a dense key needs, and the branch count stays ~log-bounded
    buckets: dict[int, list] = {}
    for r in hot:
        buckets.setdefault(_width(r).bit_length(), []).append(r)
    out = None
    for rows in buckets.values():
        part = merge_fn(
            tagged.filter(_hot_key_predicate(key_cols, rows)),
            min(_width(r) for r in rows),
        )
        out = part if out is None else out.unionByName(part)
    cold = merge_fn(
        tagged.filter(~_hot_key_predicate(key_cols, hot)), None
    )
    return out.unionByName(cold)


def _tag_sides_n(dfs: list[DataFrame], key_cols: list[str]) -> DataFrame:
    """Union of the entries tables with a ``side`` tag (0, 1, ...): every
    merge engine groups this one frame, so a merge is one shuffle total, and
    it sidesteps Spark's self-cogroup attribute ambiguity when the inputs
    share lineage (two filters of the same parent DataFrame)."""
    tagged = None
    for i, df in enumerate(dfs):
        part = df.select(
            *key_cols, "ts", "value", "validity", F.lit(i).alias("side")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    return tagged


def merge_series_n_relational(
    dfs: list[DataFrame],
    key_cols: list[str],
    op: str = "plus",
    time_slice: int | None = None,
) -> DataFrame:
    """Pure-Catalyst k-ary merge (``plus`` / ``plus_strict``), same
    single-sort shape as the binary relational merge with one carry per
    side. ``time_slice`` is the same hot-key escape as the binary engine
    (per-(key, slice) window partitions, per-key RLE border repair —
    identical output, pinned); the n-ary ops are hole-safe to slice (no
    value on all-undefined segments)."""
    return _merge_n_tagged_relational(
        _tag_sides_n(dfs, key_cols), key_cols, len(dfs), op=op,
        time_slice=time_slice,
    )


def _merge_n_tagged_relational(
    tagged: DataFrame,
    key_cols: list[str],
    n_sides: int,
    op: str,
    time_slice: int | None = None,
) -> DataFrame:
    group_cols = list(key_cols)
    if time_slice is not None:
        from .series_ops import split_at_buckets

        tagged = split_at_buckets(tagged, time_slice).withColumnRenamed(
            "bucket", "_slice"
        )
        group_cols = [*key_cols, "_slice"]
    rows, w_carry, w_sort = _boundary_rows(tagged, group_cols)
    vals = [_carried_value(i, w_carry) for i in range(n_sides)]
    total = None
    for v in vals:
        c = F.coalesce(v, F.lit(0.0))
        total = c if total is None else total + c
    n_def = None
    for v in vals:
        d = F.when(v.isNotNull(), 1).otherwise(0)
        n_def = d if n_def is None else n_def + d
    if op == "plus":
        value = F.when(n_def > 0, total)
    elif op == "plus_strict":
        value = F.when(n_def == n_sides, total)
    else:
        raise ValueError(f"unknown n-ary relational op {op!r}")
    segs = rows.select(
        *group_cols,
        F.col("p").alias("ts"),
        (F.lead("p").over(w_sort) - F.col("p")).alias("validity"),
        value.alias("value"),
    ).where(F.col("validity").isNotNull() & (F.col("validity") > 0)
            & F.col("value").isNotNull())
    if time_slice is not None:
        segs = segs.drop("_slice")
    # NaN sums stay (split by the islands' NaN break) but surface as null,
    # exactly like the kernel twin's NaN does across the Arrow boundary
    return _rle_repair(segs, key_cols).select(
        *key_cols, "ts",
        F.when(~F.isnan("value"), F.col("value")).alias("value"),
        "validity",
    )


def strict_zip_series_relational(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    time_slice: int | None = None,
) -> DataFrame:
    """Pure-Catalyst strictZip (TimeSeries.scala:335): segments where BOTH
    sides are defined, values carried as a pair; RLE merges contiguous runs
    equal on BOTH values. ``time_slice`` = the hot-key escape (identical
    output, per-key pair-RLE repairs the borders)."""
    return _zip_tagged_relational(
        _tag_sides_n([left, right], key_cols), key_cols, time_slice=time_slice
    )


def _zip_tagged_relational(
    tagged: DataFrame,
    key_cols: list[str],
    time_slice: int | None = None,
) -> DataFrame:
    from pyspark.sql import Window

    group_cols = list(key_cols)
    if time_slice is not None:
        from .series_ops import split_at_buckets

        tagged = split_at_buckets(tagged, time_slice).withColumnRenamed(
            "bucket", "_slice"
        )
        group_cols = [*key_cols, "_slice"]
    rows, w_carry, w_sort = _boundary_rows(tagged, group_cols)
    a = _carried_value(0, w_carry)
    b = _carried_value(1, w_carry)
    segs = rows.select(
        *group_cols,
        F.col("p").alias("ts"),
        (F.lead("p").over(w_sort) - F.col("p")).alias("validity"),
        a.alias("a_value"),
        b.alias("b_value"),
    ).where(
        F.col("validity").isNotNull() & (F.col("validity") > 0)
        & F.col("a_value").isNotNull() & F.col("b_value").isNotNull()
    )
    if time_slice is not None:
        segs = segs.drop("_slice")
    # gaps-and-islands on the value PAIR
    w = Window.partitionBy(*key_cols).orderBy("ts")
    prev_end = F.lag(F.col("ts") + F.col("validity")).over(w)
    brk = F.when(
        prev_end.isNull()
        | (prev_end != F.col("ts"))
        | (F.lag("a_value").over(w) != F.col("a_value"))
        | (F.lag("b_value").over(w) != F.col("b_value"))
        # numpy twin keeps NaN runs split (NaN != NaN there)
        | F.isnan(F.col("a_value"))
        | F.isnan(F.col("b_value")),
        1,
    ).otherwise(0)
    island = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        segs.withColumn("_island", island)
        .groupBy(*key_cols, "_island")
        .agg(
            F.min("ts").alias("ts"),
            F.min("a_value").alias("a_value"),
            F.min("b_value").alias("b_value"),
            (F.max(F.col("ts") + F.col("validity")) - F.min("ts")).alias(
                "validity"
            ),
        )
        .drop("_island")
        # NaN pair slots surface as null, like the kernel twin's NaN does
        # across the Arrow boundary (runs already split by the NaN break)
        .select(
            *key_cols, "ts",
            F.when(~F.isnan("a_value"), F.col("a_value")).alias("a_value"),
            F.when(~F.isnan("b_value"), F.col("b_value")).alias("b_value"),
            "validity",
        )
    )


def strict_zip_series(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    compress: bool = True,
    engine: str = "auto",
    skew_guard: bool = True,
    hot_threshold: int | None = None,
) -> DataFrame:
    """strictZip (TimeSeries.scala:335): tuple-valued segments where BOTH
    series are defined. Output: key cols + ts, a_value, b_value, validity.
    ``engine="auto"`` routes compressed zips through the pure-Catalyst path
    (strict_zip_series_relational) with the same automatic hot-key routing
    as ``merge_series`` (``skew_guard``, _route_hot_keys; without the guard
    the plain relational plan); ``compress=False`` and ``engine="kernel"``
    run the offset-packed single-call bucket kernel."""
    tagged = _tag_sides_n([left, right], key_cols)
    routed = _route_engine(
        engine, compress, tagged, key_cols,
        lambda t, ts: _zip_tagged_relational(t, key_cols, time_slice=ts),
        skew_guard, hot_threshold,
    )
    if routed is not None:
        return routed
    from ..kernel.merge import strict_zip_arrays
    from ._kernel import apply_grouped

    return apply_grouped(
        tagged, key_cols,
        lambda c, t, v, d, side: _packed_sides(
            c, t, v, d, side, 2,
            lambda sides, _r: strict_zip_arrays(
                *sides[0], *sides[1], compress=compress
            ),
        ),
        values=("a_value", "b_value"),
    )


def merge_series_n(
    dfs: list[DataFrame],
    key_cols: list[str],
    op: str = "plus",
    compress: bool = True,
    engine: str = "auto",
    skew_guard: bool = True,
    hot_threshold: int | None = None,
) -> DataFrame:
    """K-ary interval merge (TimeSeriesMerger.scala:64-79 generalized):
    merge k entries tables series-by-series in one pass over the boundary
    union, instead of chaining k-1 binary merges (which would re-fit and
    re-shuffle at every step).

    ``op``: ``plus`` (non-strict sum of defined slots) or ``plus_strict``
    (defined only where all k sides are). One shuffle total: all sides are
    unioned with a side tag and grouped once. ``engine="auto"`` routes
    compressed merges through the pure-Catalyst path
    (merge_series_n_relational) with the same automatic hot-key routing as
    ``merge_series`` (``skew_guard``, _route_hot_keys; without the guard
    the plain relational plan); ``compress=False`` and ``engine="kernel"``
    run the offset-packed Arrow kernel.
    """
    n_sides = len(dfs)
    tagged = _tag_sides_n(dfs, key_cols)
    routed = _route_engine(
        engine, compress, tagged, key_cols,
        lambda t, ts: _merge_n_tagged_relational(
            t, key_cols, n_sides, op=op, time_slice=ts
        ),
        skew_guard, hot_threshold,
    )
    if routed is not None:
        return routed
    from ..kernel.merge import merge_apply_numeric_n
    from ._kernel import apply_grouped

    return apply_grouped(
        tagged, key_cols,
        lambda c, t, v, d, side: _packed_sides(
            c, t, v, d, side, n_sides,
            lambda sides, _r: merge_apply_numeric_n(sides, op=op, compress=compress),
        ),
    )
