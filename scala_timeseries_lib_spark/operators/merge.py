"""DataFrame-level interval merges (the reference's join family, SURVEY.md 2.6).

A merge is a full-outer *interval-alignment* join on time, per series key:
the sides are unioned with a side tag and grouped once (one shuffle). Each
operator picks its plan from the call's shape and the measured key
population; no caller option selects it:

- a named op with ``compress=True`` runs the pure-Catalyst boundary-union
  plan (``_merge_tagged_relational`` and its n-ary / strict-zip siblings),
  through the hot-key guard (``_route_hot_keys``), which time-slices keys
  above ``HOT_KEY_THRESHOLD`` -- unless the op fills (undefined, undefined)
  segments, which cannot be sliced;
- a Python ``op`` callable or ``compress=False`` runs the offset-packed
  Arrow/numpy bucket kernel (``kernel.merge``, vectorized over the
  boundary union; the callable runs per elementary segment).
"""

from __future__ import annotations

from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

__all__ = [
    "merge_series",
    "merge_series_n",
    "strict_zip_series",
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


def _fills_holes(op, left_default, right_default) -> bool:
    """Whether ``op`` may emit a value on an (undefined, undefined)
    segment: a callable, or minus with both defaults. Such an op cannot be
    time-sliced (holes crossing slice borders would be filled per slice),
    and the kernel passes it the per-series spans so packed inter-region
    gaps stay holes."""
    return callable(op) or (
        op == "minus" and left_default is not None and right_default is not None
    )


def merge_series(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    op="plus",
    compress: bool = True,
    left_default: float | None = None,
    right_default: float | None = None,
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

    The plan follows from the call and the measured key population:

    - A named op with ``compress=True`` runs the pure-Catalyst plan (no
      Python stage): boundary explode -> one per-key window sort computing
      segment ``lead`` and per-side carried values -> op expression ->
      gaps-and-islands RLE. One shuffle end-to-end; measured faster than
      the kernel at sf0.1 (BENCH/BASELINE.md crossover note). It goes
      through the hot-key guard (:func:`_route_hot_keys`): a no-job leaf
      row-count bound from the parquet footers proves small inputs
      hot-key-free and keeps the plan fully lazy; otherwise a 1% sampled
      count probes for candidates (one lightweight job); only a flagged
      candidate triggers the exact pass, which merges keys above
      ``HOT_KEY_THRESHOLD`` (1M entries, the measured crossover) through
      an auto-sized ``time_slice`` -- (key, slice) window partitions plus a
      per-key RLE border repair, identical output -- while the rest keep
      the plain plan. ``minus`` with both defaults fills (undefined,
      undefined) segments, so it cannot slice and skips the guard.
    - A callable op or ``compress=False`` runs the offset-packed
      Arrow/numpy bucket kernel (``operators._kernel.apply_grouped``; one
      vectorized call per salt bucket, per series only when the packed
      time axis would overflow).

    Identical output on every route (pinned by the twin tests).
    """
    if not callable(op) and op not in NUMERIC_OPS:
        raise ValueError(f"unknown op {op!r}; expected callable or {NUMERIC_OPS}")
    if callable(op) or not compress:
        return _merge_series_kernel(
            left, right, key_cols, op, compress, left_default, right_default
        )
    tagged = _tag_sides_n([left, right], key_cols)

    def build(t, time_slice):
        return _merge_tagged_relational(
            t, key_cols, op=op, left_default=left_default,
            right_default=right_default, time_slice=time_slice,
        )

    if _fills_holes(op, left_default, right_default):
        return build(tagged, None)
    return _route_hot_keys(tagged, key_cols, build)


def _merge_series_kernel(
    left, right, key_cols, op="plus", compress=True, left_default=None,
    right_default=None,
) -> DataFrame:
    """``merge_series``' kernel route: the offset-packed bucket kernel for
    any op (the twin tests' reference for the relational plan)."""
    from ..kernel.merge import merge_apply_callable, merge_apply_numeric
    from ._kernel import apply_grouped

    def _merge(sides, valid_ranges):
        if callable(op):
            return merge_apply_callable(
                *sides[0], *sides[1], op=op, compress=compress,
                valid_ranges=valid_ranges,
            )
        return merge_apply_numeric(
            *sides[0], *sides[1], op=op, compress=compress,
            left_default=left_default, right_default=right_default,
            valid_ranges=valid_ranges,
        )

    needs_ranges = _fills_holes(op, left_default, right_default)
    return apply_grouped(
        _tag_sides_n([left, right], key_cols), key_cols,
        lambda c, t, v, d, side: _packed_sides(
            c, t, v, d, side, 2, _merge, needs_ranges
        ),
    )


def _rle_repair(
    df: DataFrame, key_cols: list[str], values=("value",)
) -> DataFrame:
    """Relational gaps-and-islands RLE: merge adjacent contiguous entries
    equal on every ``values`` column (across slice borders too; one window
    + one aggregation, JVM-side)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy("ts")
    prev_end = F.lag(F.col("ts") + F.col("validity")).over(w)
    brk = prev_end.isNull() | (prev_end != F.col("ts"))
    for v in values:
        brk = brk | (F.lag(v).over(w) != F.col(v))
    # NaN always breaks: Spark's NaN = NaN is true, but the kernel twins
    # compress with numpy equality (NaN != NaN), keeping NaN runs split
    for v in values:
        brk = brk | F.isnan(F.col(v))
    island = F.sum(F.when(brk, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("_island", island)
        .groupBy(*key_cols, "_island")
        .agg(
            F.min("ts").alias("ts"),
            # equal within an island
            *[F.min(v).alias(v) for v in values],
            (F.max(F.col("ts") + F.col("validity")) - F.min("ts")).alias(
                "validity"
            ),
        )
        .drop("_island")
    )


def _boundary_rows(tagged: DataFrame, key_cols: list[str]):
    """Explode each fitted entry into a start row (carrying ``struct(end,
    value)``) and an end row (carrying null), the shared scaffold of the
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

    end = F.col("ts") + F.col("validity")
    carry = F.struct(end.alias("end"), F.col("value").alias("v0"))
    # the end row's carry is a typed null: when(False, <same struct>) keeps
    # the array element types identical without spelling the type twice
    ev = F.array(
        F.struct(F.col("ts").alias("p"), F.lit(1).alias("is_start"),
                 carry.alias("carry")),
        F.struct(end.alias("p"), F.lit(0).alias("is_start"),
                 F.when(F.lit(False), carry).alias("carry")),
    )
    rows = tagged.select(*key_cols, "side", F.explode(ev).alias("ev")).select(
        *key_cols, "side",
        F.col("ev.p").alias("p"),
        F.col("ev.is_start").alias("is_start"),
        F.col("ev.carry").alias("carry"),
    )
    w_sort = Window.partitionBy(*key_cols).orderBy("p", "is_start")
    w_carry = w_sort.rowsBetween(Window.unboundedPreceding, 0)
    return rows, w_carry, w_sort


def _carried_value(side_idx: int, w_carry):
    """Value of side ``side_idx`` active on the segment starting at this
    row's ``p``: last start-carry of that side, still covering p."""
    carry = F.last(
        F.when(
            (F.col("side") == side_idx) & (F.col("is_start") == 1),
            F.col("carry"),
        ),
        ignorenulls=True,
    ).over(w_carry)
    return F.when(carry["end"] > F.col("p"), carry["v0"])


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


def _segments(tagged, key_cols, n_sides, time_slice, values, keep):
    """The relational merges' shared body: elementary segments of the
    side-tagged union, before the RLE.

    With ``time_slice`` (ms) both sides are first pre-split at absolute
    ``k*time_slice`` boundaries, so every (key, slice) is its own window
    partition -- the hot-key escape: one key is otherwise one sort task.
    The boundary-union merge is local in time, and the caller's per-key
    RLE re-merges equal runs across slice borders, so the output is
    identical (pinned by test). Not valid for ops that fill (undefined,
    undefined) segments: holes crossing borders would be filled per slice.

    ``values(carried)`` maps the per-side carried values to the output
    value columns; ``keep`` lists the row conditions besides a positive
    validity. Returns key columns, ``ts``, ``validity`` and the values."""
    group_cols = list(key_cols)
    if time_slice is not None:
        from .series_ops import split_at_buckets

        # split_at_buckets carries the side tag through the explode
        tagged = split_at_buckets(tagged, time_slice).withColumnRenamed(
            "bucket", "_slice"
        )
        group_cols = [*key_cols, "_slice"]
    rows, w_carry, w_sort = _boundary_rows(tagged, group_cols)
    cond = F.col("validity").isNotNull() & (F.col("validity") > 0)
    for c in keep:
        cond = cond & c
    segs = rows.select(
        *group_cols,
        F.col("p").alias("ts"),
        (F.lead("p").over(w_sort) - F.col("p")).alias("validity"),
        *values([_carried_value(i, w_carry) for i in range(n_sides)]),
    ).where(cond)
    if time_slice is not None:
        segs = segs.drop("_slice")
    return segs


def _nan_as_null(col: str):
    """NaN surfaces as null, like the kernel twins' NaN does across the
    Arrow boundary."""
    return F.when(~F.isnan(col), F.col(col)).alias(col)


def _merge_tagged_relational(
    tagged: DataFrame,
    key_cols: list[str],
    op: str,
    left_default: float | None = None,
    right_default: float | None = None,
    time_slice: int | None = None,
) -> DataFrame:
    """Pure-Catalyst binary interval merge (TimeSeriesMerger.scala:13-196
    semantics, zero Python stages) over the side-tagged union.

    Shape: explode each fitted entry into (start, end) boundary rows; ONE
    per-key window sort yields both the elementary segment ``[p, lead(p))``
    and each side's active value on it (running ``last`` of the side's
    start-carry, masked by its ``end``); the kernel's op table runs as a
    CASE expression; gaps-and-islands RLE-compresses equal contiguous runs.
    One shuffle end-to-end -- the islands window and final groupBy reuse
    the per-key hash partitioning (``(key)`` satisfies the ``(key, island)``
    clustering). Matches :func:`_merge_series_kernel` with
    ``compress=True`` exactly (tests/test_relational_merge.py)."""
    segs = _segments(
        tagged, key_cols, 2, time_slice,
        lambda v: [_merge_value_expr(op, *v, left_default, right_default)
                   .alias("value")],
        # NaN results drop too: the kernel twin uses NaN as its hole
        # sentinel, so a NaN input value yields a hole there; match it
        [F.col("value").isNotNull(), ~F.isnan("value")],
    )
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
# rate: a truly hot key (n >= HOT_KEY_THRESHOLD) yields Binomial(n, 0.01)
# sampled rows with mean >= 10_000 at the default threshold; the halved cut
# (5_000) is missed with P < exp(-mean/8) ~ e^-1250 -- never. Sampling is
# only used when HOT_KEY_THRESHOLD * fraction >= _GUARD_SAMPLE_MIN_ROWS,
# i.e. the expected sample of a threshold-sized key is big enough for that
# bound to have teeth; below it (tiny thresholds, only seen in tests)
# detection falls back to the exact materialize-and-count pass.
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
                # inputFiles() returns encoded URIs (a space reads %20)
                if f.startswith("file:"):
                    f = unquote(urlsplit(f).path)
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
            # decoded, or Spark's path parser would encode them twice
            files = [unquote(f) if f.startswith("file:") else f
                     for f in rel.location().inputFiles()]
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
) -> DataFrame:
    """AQE-style skew routing shared by the whole relational merge family
    (the north rule's hot-domain mandate, BASELINE.json:14). Detection is
    staged cheapest-first so the common no-hot-key case pays (nearly)
    nothing (round-6 optimization; guide §2.5):

    1. **Row-count floor, no job.** If the plan's leaf row-count bound
       (:func:`_leaf_row_bound`, parquet footers -- sound because the merge
       input plan has no row-expanding operator) is at most
       ``HOT_KEY_THRESHOLD``, NO key can be hot: return the fully lazy plain plan untouched.
    2. **Sampled probe, one lightweight job.** Per-key counts over a
       ``_GUARD_SAMPLE_FRACTION`` sample, flagged at half the scaled
       threshold -- a hot key cannot hide from a 1% sample (Chernoff bound
       above). No materialization, no checkpoint: the probe recomputes the
       input lineage once, but moves only sampled keys through a tiny
       partial-aggregated shuffle. Nothing flagged -> fully lazy plain
       plan. (Used only when ``HOT_KEY_THRESHOLD * fraction >=
       _GUARD_SAMPLE_MIN_ROWS``; tiny thresholds go straight to 3.)
    3. **Exact routing, rare path.** Only with a flagged candidate is the
       projected union materialized ONCE (``localCheckpoint`` -- the same
       bytes the merge shuffle was about to move anyway) and counted
       exactly, then routed:

       - no key above the threshold          -> the plain one-shuffle plan;
       - a few hot keys (<= _MAX_HOT_KEYS)   -> hot keys merge sliced (each
         key's OWN width, sized so each (key, slice) holds
         ~_HOT_SLICE_TARGET entries; keys are grouped into power-of-two
         width buckets so one temporally dense key cannot force the finest
         width on every other), the rest keep the plain plan, results
         unioned -- the bulk pays zero tax;
       - pathologically many hot keys        -> slice the whole merge.

    ``merge_fn(tagged_subset, time_slice_or_None)`` builds the engine plan.
    Output is identical on every route (pinned by tests); only the physical
    window partitioning changes. ``HOT_KEY_THRESHOLD`` is read at call
    time.

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
    if bound is not None and bound <= HOT_KEY_THRESHOLD:
        return merge_fn(tagged, None)
    frac = _GUARD_SAMPLE_FRACTION
    if HOT_KEY_THRESHOLD * frac >= _GUARD_SAMPLE_MIN_ROWS:
        import math  # noqa: PLC0415

        cut = math.ceil(HOT_KEY_THRESHOLD * frac / 2.0)
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
        .filter(F.col("_n") > HOT_KEY_THRESHOLD)
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


def _merge_n_tagged_relational(
    tagged: DataFrame,
    key_cols: list[str],
    n_sides: int,
    op: str,
    time_slice: int | None = None,
) -> DataFrame:
    """Pure-Catalyst k-ary merge (``plus`` / ``plus_strict``), same
    single-sort shape as the binary merge with one carry per side; the
    n-ary ops are hole-safe to slice (no value on all-undefined
    segments)."""

    def value(vals):
        total = None
        for v in vals:
            c = F.coalesce(v, F.lit(0.0))
            total = c if total is None else total + c
        n_def = None
        for v in vals:
            d = F.when(v.isNotNull(), 1).otherwise(0)
            n_def = d if n_def is None else n_def + d
        defined = n_def > 0 if op == "plus" else n_def == n_sides
        return [F.when(defined, total).alias("value")]

    segs = _segments(
        tagged, key_cols, n_sides, time_slice, value,
        [F.col("value").isNotNull()],
    )
    # NaN sums stay (split by the islands' NaN break)
    return _rle_repair(segs, key_cols).select(
        *key_cols, "ts", _nan_as_null("value"), "validity"
    )


def _zip_tagged_relational(
    tagged: DataFrame,
    key_cols: list[str],
    time_slice: int | None = None,
) -> DataFrame:
    """Pure-Catalyst strictZip (TimeSeries.scala:335): segments where BOTH
    sides are defined, values carried as a pair; the RLE merges contiguous
    runs equal on BOTH values."""
    segs = _segments(
        tagged, key_cols, 2, time_slice,
        lambda v: [v[0].alias("a_value"), v[1].alias("b_value")],
        [F.col("a_value").isNotNull(), F.col("b_value").isNotNull()],
    )
    # NaN pair slots stay (runs already split by the NaN break)
    return _rle_repair(segs, key_cols, values=("a_value", "b_value")).select(
        *key_cols, "ts", _nan_as_null("a_value"), _nan_as_null("b_value"),
        "validity",
    )


def strict_zip_series(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    compress: bool = True,
) -> DataFrame:
    """strictZip (TimeSeries.scala:335): tuple-valued segments where BOTH
    series are defined. Output: key cols + ts, a_value, b_value, validity.
    With ``compress=True`` the pure-Catalyst plan runs, through the same
    hot-key guard as ``merge_series`` (:func:`_route_hot_keys`);
    ``compress=False`` runs the offset-packed single-call bucket kernel."""
    if not compress:
        return _strict_zip_kernel(left, right, key_cols, compress)
    return _route_hot_keys(
        _tag_sides_n([left, right], key_cols), key_cols,
        lambda t, ts: _zip_tagged_relational(t, key_cols, time_slice=ts),
    )


def _strict_zip_kernel(left, right, key_cols, compress=True) -> DataFrame:
    """``strict_zip_series``' kernel route (the twin tests' reference)."""
    from ..kernel.merge import strict_zip_arrays
    from ._kernel import apply_grouped

    return apply_grouped(
        _tag_sides_n([left, right], key_cols), key_cols,
        lambda c, t, v, d, side: _packed_sides(
            c, t, v, d, side, 2,
            lambda sides, _r: strict_zip_arrays(
                *sides[0], *sides[1], compress=compress
            ),
        ),
        values=("a_value", "b_value"),
    )


_N_ARY_OPS = ("plus", "plus_strict")


def merge_series_n(
    dfs: list[DataFrame],
    key_cols: list[str],
    op: str = "plus",
    compress: bool = True,
) -> DataFrame:
    """K-ary interval merge (TimeSeriesMerger.scala:64-79 generalized):
    merge k entries tables series-by-series in one pass over the boundary
    union, instead of chaining k-1 binary merges (which would re-fit and
    re-shuffle at every step).

    ``op``: ``plus`` (non-strict sum of defined slots) or ``plus_strict``
    (defined only where all k sides are); any other op, or an empty
    ``dfs``, raises ``ValueError`` at call time. One shuffle total: all
    sides are unioned with a side tag and grouped once. With
    ``compress=True`` the pure-Catalyst plan runs, through the same hot-key
    guard as ``merge_series`` (:func:`_route_hot_keys`); ``compress=False``
    runs the offset-packed Arrow kernel.
    """
    if op not in _N_ARY_OPS:
        raise ValueError(f"unknown n-ary op {op!r}; expected one of {_N_ARY_OPS}")
    if not dfs:
        raise ValueError("merge_series_n needs at least one side")
    if not compress:
        return _merge_series_n_kernel(dfs, key_cols, op, compress)
    return _route_hot_keys(
        _tag_sides_n(dfs, key_cols), key_cols,
        lambda t, ts: _merge_n_tagged_relational(
            t, key_cols, len(dfs), op=op, time_slice=ts
        ),
    )


def _merge_series_n_kernel(dfs, key_cols, op="plus", compress=True) -> DataFrame:
    """``merge_series_n``' kernel route (the twin tests' reference)."""
    from ..kernel.merge import merge_apply_numeric_n
    from ._kernel import apply_grouped

    # the kernel ships to the workers: capture the side count, not the frames
    n_sides = len(dfs)
    return apply_grouped(
        _tag_sides_n(dfs, key_cols), key_cols,
        lambda c, t, v, d, side: _packed_sides(
            c, t, v, d, side, n_sides,
            lambda sides, _r: merge_apply_numeric_n(sides, op=op, compress=compress),
        ),
    )
