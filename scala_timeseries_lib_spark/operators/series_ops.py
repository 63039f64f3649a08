"""JVM-side series operators: trims, fill, splitting, integrals, rollup.

Every operator in this module compiles to pure Catalyst plans (filters,
projections, ``sequence``/``explode``, window frames, hash aggregations) --
no Python on the hot path. These cover the large majority of the reference's
operator inventory (SURVEY.md section 2.3-2.5, 2.7-2.8, 2.10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import eps_floor

__all__ = [
    "trim_right",
    "trim_left",
    "trim_right_discrete",
    "trim_left_discrete",
    "slice_series",
    "fill_gaps_locf",
    "fill_gaps_constant",
    "split_entries_longer_than",
    "split_at_buckets",
    "step_integral",
    "rollup_time_weighted",
    "rollup_time_weighted_parts",
    "rollup_stats",
    "reaggregate_rollup",
    "series_stats",
    "reservoir_stats",
    "sample_strict_grid",
    "at_timestamps",
    "domain_union_intersect",
]

def _until():
    return F.col("ts") + F.col("validity")


def trim_right(df: DataFrame, at: int) -> DataFrame:
    """Undefined for t >= at; the straddling entry is split/shortened
    (TimeSeries.scala:57, TSEntry.scala:46-76)."""
    return df.filter(F.col("ts") < at).withColumn(
        "validity", F.least(F.col("validity"), F.lit(at) - F.col("ts"))
    )


def trim_left(df: DataFrame, at: int) -> DataFrame:
    """Undefined for t < at; the straddling entry's start moves forward
    (TimeSeries.scala:67, TSEntry.scala:81-112)."""
    return (
        df.filter(_until() > at)
        .withColumn("new_ts", F.greatest(F.col("ts"), F.lit(at)))
        .withColumn("validity", F.col("ts") + F.col("validity") - F.col("new_ts"))
        .drop("ts")
        .withColumnRenamed("new_ts", "ts")
    )


def trim_right_discrete(df: DataFrame, at: int, include_entry: bool = True) -> DataFrame:
    """Never splits: keep the straddling entry whole or drop it
    (TimeSeries.scala:59-74)."""
    return df.filter(F.col("ts") < at) if include_entry else df.filter(_until() <= at)


def trim_left_discrete(df: DataFrame, at: int, include_entry: bool = True) -> DataFrame:
    return df.filter(_until() > at) if include_entry else df.filter(F.col("ts") >= at)


def slice_series(df: DataFrame, start: int, end: int) -> DataFrame:
    """``trimLeft(start).trimRight(end)`` (TimeSeries.scala:47)."""
    return trim_right(trim_left(df, start), end)


def _fill_gaps(df, key_cols, fill_value_col, max_hole):
    """Single-pass gap fill: each row explodes into itself plus (when a hole
    follows) one fill row. A union of entries with a separately-derived gap
    table would run the whole upstream subtree (scan, shuffle, windows)
    twice; this shape keeps one scan and one ``lead`` window."""
    w = Window.partitionBy(*key_cols).orderBy("ts")
    # window expr must be materialized before entering the generator below
    df = df.withColumn("_hole", F.lead("ts").over(w) - _until())
    gap_ok = F.col("_hole") > 0
    if max_hole is not None:
        gap_ok = gap_ok & (F.col("_hole") <= max_hole)
    pieces = F.array(
        F.struct(
            F.col("ts").alias("ts"),
            F.col("value").alias("value"),
            F.col("validity").alias("validity"),
        ),
        F.struct(
            _until().alias("ts"),
            fill_value_col.alias("value"),
            # sentinel -1 drops the fill row when there is no hole
            F.when(gap_ok, F.col("_hole")).otherwise(F.lit(-1)).alias("validity"),
        ),
    )
    return df.withColumn(
        "_piece", F.explode(F.filter(pieces, lambda x: x["validity"] > 0))
    ).select(
        *key_cols,
        F.col("_piece.ts").alias("ts"),
        F.col("_piece.value").alias("value"),
        F.col("_piece.validity").alias("validity"),
    )


def fill_gaps_locf(
    df: DataFrame, key_cols: list[str], max_hole: int | None = None
) -> DataFrame:
    """Fill holes with the last observed value (LOCF): for every gap between
    an entry's end and the next entry's start, emit a fill entry carrying the
    previous value (reference ``fill``/``fallback``, TimeSeries.scala:154-161,
    with fillValue = previous value). ``max_hole`` optionally skips holes
    larger than a bound. Pure JVM: one ``lead`` window + explode."""
    return _fill_gaps(df, key_cols, F.col("value"), max_hole)


def fill_gaps_constant(df: DataFrame, key_cols: list[str], fill_value: float) -> DataFrame:
    """Reference ``fill(whenUndef)``: constant-fill every hole
    (TimeSeries.scala:154-161). Note: no RLE compression with neighbors is
    applied here; run fit_entries(compress=True) after if needed."""
    return _fill_gaps(df, key_cols, F.lit(float(fill_value)), None)


def split_entries_longer_than(df: DataFrame, max_length: int) -> DataFrame:
    """Chop every entry into <= max_length pieces (TimeSeries.scala:364-370)
    via JVM-side ``sequence``/``explode`` -- no Python, no shuffle."""
    return (
        df.withColumn(
            "piece_ts",
            F.explode(
                F.sequence(
                    F.col("ts"), F.col("ts") + F.col("validity") - 1, F.lit(max_length)
                )
            ),
        )
        .withColumn(
            "piece_validity",
            F.least(F.lit(max_length), F.col("ts") + F.col("validity") - F.col("piece_ts")),
        )
        .drop("ts", "validity")
        .withColumnsRenamed({"piece_ts": "ts", "piece_validity": "validity"})
    )


def split_at_buckets(df: DataFrame, step: int, origin: int = 0) -> DataFrame:
    """Split entries at bucket boundaries of width ``step`` anchored at
    ``origin`` (TimeBucketer.scala:79-84 semantics): an entry spanning k
    buckets becomes k rows clipped to bucket edges, plus a ``bucket`` column
    (bucket start time). JVM-side explode; this is the mandatory pre-split
    for reference-exact rollups."""
    # integer arithmetic (pmod) -- double division risks off-by-one on exact
    # multiples at epoch-ms magnitudes
    until = F.col("ts") + F.col("validity")
    first_bucket = F.col("ts") - F.pmod(F.col("ts") - origin, F.lit(step))
    last_bucket = (until - 1) - F.pmod(until - 1 - origin, F.lit(step))
    return (
        df.withColumn("bucket", F.explode(F.sequence(first_bucket, last_bucket, F.lit(step))))
        .withColumn("piece_ts", F.greatest(F.col("ts"), F.col("bucket")))
        .withColumn(
            "piece_validity",
            F.least(until, F.col("bucket") + step) - F.col("piece_ts"),
        )
        .drop("ts", "validity")
        .withColumnsRenamed({"piece_ts": "ts", "piece_validity": "validity"})
    )


def step_integral(
    df: DataFrame, key_cols: list[str], timeunit: str = "ms", step_length: int | None = None
) -> DataFrame:
    """Running cumulative integral per series (NumericTimeSeries.scala:66-91);
    optionally split long entries first (trait stepIntegral,
    TimeSeries.scala:340-349). Result column ``value`` is the running
    integral; still a step function. Pure JVM window cumsum."""
    from ..kernel.integral import seconds_factor  # noqa: PLC0415

    if step_length is not None:
        df = split_entries_longer_than(df, step_length)
    f = seconds_factor(timeunit)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "value", F.sum(F.col("value") * F.col("validity") * F.lit(f)).over(w)
    )


def rollup_stats() -> list[Column]:
    """The six reaggregatable sufficient statistics of one (key, bucket)
    group of bucket-clipped pieces (``value``, ``validity``): the rollup
    schema's ``twmean, vmin, vmax, integral_s, support_ms, n_pieces``."""
    wsum = F.sum(F.col("value") * F.col("validity"))
    return [
        (wsum / F.sum("validity")).alias("twmean"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        (wsum / 1000.0).alias("integral_s"),
        F.sum("validity").alias("support_ms"),
        F.count(F.lit(1)).alias("n_pieces"),
    ]


def rollup_time_weighted_parts(
    df: DataFrame, key_cols: list[str], step: int, origin: int = 0
) -> tuple[DataFrame, DataFrame]:
    """Fused boundary-split rollup for NON-OVERLAPPING entries (the reference
    invariant: a well-formed TimeSeries has strictly-ordered, disjoint
    entries, TimeSeries.scala:566-577). Returns ``(full, partial)`` frames
    with the rollup schema; their union is the rollup result.

    The scale insight: boundary-splitting an entry at ``step`` edges yields
    (a) interior buckets the entry covers END-TO-END and (b) at most two
    partial edge pieces. Under disjointness no other entry can intersect a
    fully-covered bucket, so every interior piece IS its final (key, bucket)
    group -- emitting it through a hash aggregate (the plan of
    :func:`rollup_time_weighted` with ``disjoint=False``) builds a hash
    table of ~n_pieces groups that merges almost nothing, twice (partial +
    final run back-to-back in one stage when the child is already
    key-partitioned). The split emits interior buckets as a pure
    Generate+Project (no aggregation at all) and routes only the ~2 edge
    pieces per entry through the hash aggregate: measured 3.5-7x faster at
    sf0.1 x12 (6.7s -> 0.9s at 32 cores) with bit-identical output.

    Full-bucket aggregates are written as ``(v * step) / step`` etc. rather
    than simplified to ``v``, reproducing the exact IEEE rounding of the
    aggregate path so both branches (and the SQL oracle) stay hash-identical.

    Both branches read the same pre-explode exchange (ReuseExchange
    materializes it once); each is hash-partitioned on the series key, so
    downstream per-branch reaggregation needs no further shuffle.
    """
    until = F.col("ts") + F.col("validity")
    # interior buckets: aligned b with ts <= b and b + step <= until
    b_full_lo = F.col("ts") + F.pmod(F.lit(origin) - F.col("ts"), F.lit(step))
    b_full_hi = (until - step) - F.pmod(until - step - origin, F.lit(step))
    full = (
        df.withColumn(
            "bucket",
            F.explode(
                F.when(
                    b_full_hi >= b_full_lo,
                    F.sequence(b_full_lo, b_full_hi, F.lit(step)),
                ).otherwise(F.array().cast("array<bigint>"))
            ),
        )
        .select(
            *key_cols,
            "bucket",
            ((F.col("value") * step) / F.lit(step).cast("double")).alias("twmean"),
            F.col("value").alias("vmin"),
            F.col("value").alias("vmax"),
            ((F.col("value") * step) / 1000.0).alias("integral_s"),
            F.lit(step).cast("long").alias("support_ms"),
            F.lit(1).cast("long").alias("n_pieces"),
        )
    )
    # edge pieces: head [ts, min(b_full_lo, until)), tail [max(b_full_hi+step, ts), until);
    # for an entry inside one bucket the two collapse to the same range -- keep one
    head = F.struct(
        (F.col("ts") - F.pmod(F.col("ts") - origin, F.lit(step))).alias("bucket"),
        F.col("ts").alias("pts"),
        F.least(b_full_lo, until).alias("puntil"),
    )
    tail_lo = F.greatest(b_full_hi + step, F.col("ts"))
    tail = F.struct(
        (tail_lo - F.pmod(tail_lo - origin, F.lit(step))).alias("bucket"),
        tail_lo.alias("pts"),
        until.alias("puntil"),
    )
    partial = (
        df.withColumn(
            "pcs", F.filter(F.array(head, tail), lambda s: s["puntil"] > s["pts"])
        )
        .withColumn(
            "pcs",
            F.when(
                (F.size("pcs") == 2)
                & (
                    F.element_at("pcs", 1)["bucket"]
                    == F.element_at("pcs", 2)["bucket"]
                ),
                F.slice("pcs", 1, 1),
            ).otherwise(F.col("pcs")),
        )
        .withColumn("p", F.explode("pcs"))
        .select(
            *key_cols,
            F.col("p.bucket").alias("bucket"),
            F.col("value"),
            (F.col("p.puntil") - F.col("p.pts")).alias("validity"),
        )
        .groupBy(*key_cols, "bucket")
        .agg(*rollup_stats())
    )
    return full, partial


def rollup_time_weighted(
    df: DataFrame,
    key_cols: list[str],
    step: int,
    origin: int = 0,
    disjoint: bool = False,
) -> DataFrame:
    """Continuous-aggregate rollup (TimeSeries.scala:501-508): boundary-split
    then per-bucket aggregates. Emits the reaggregatable sufficient
    statistics (wsum/dur) alongside the human aggregates so coarser tiers can
    be computed from finer ones without revisiting raw data.

    Output: key_cols + bucket, twmean, vmin, vmax, integral_s, support_ms, n_pieces.

    ``disjoint=True`` is the caller's PROMISE that entries are
    non-overlapping per series (the reference's well-formed-series
    invariant, guaranteed by ``fit_entries``/``derive_entries``); it takes
    the fused full/partial split of :func:`rollup_time_weighted_parts`,
    which bypasses the hash aggregate for every fully-covered bucket. On
    input that violates the promise the split emits duplicate unmerged
    (key, bucket) rows, so it is OPT-IN (ADVICE r3): the default
    ``disjoint=False`` is correct on any input -- that path is
    one explode + one (key, bucket) hash aggregation and merges overlapping
    contributions (the split path would emit duplicate (key, bucket) rows on
    such input).

    Crossover (measured, BENCH/BASELINE.md): the split's win is the
    eliminated ~n_pieces-entry hash table, its cost is ~2 extra stages.
    Small jobs are scheduling-bound and the single-aggregate
    ``disjoint=False`` plan is faster (0.7 s vs 1.9 s at sf0.1/1h); at
    scale the split wins up to 7x (0.9 s vs 6.7 s at 76M pieces, 32
    cores), and it is the hot-key plan: a key's pieces aggregate in one
    task at ~1 us a piece (16M took 17 s, the split 2.3 s; on a 4M-entry
    hot key the split also beat a round-robin spread of the input, 2.29 s
    vs 4.02 s at 32 cores, BENCH/skew_r4.json). Callers that know they are
    small may pass ``disjoint=False`` purely as a physical hint -- results
    are identical on well-formed input. ``TierPipeline`` picks by a piece
    bound: single aggregate below 1M pieces (<= ~1 s even if one key owns
    them all), split from there (``plans/tiers.py:SPLIT_MIN_PIECES``).

    Physical shape (both paths): the compact input is repartitioned on the
    series key to full parallelism BEFORE the explode -- AQE happily
    coalesces the small pre-explode data into a handful of partitions, which
    would serialize the 60x-amplified Generate. Hash partitioning on the key
    satisfies the (key, bucket) group clustering, so no aggregation in the
    plan needs a further exchange (verify with .explain). Oracle-compared
    floats are rounded by the caller (``functions.rounding.eps_floor``).
    """
    sc = df.sparkSession.sparkContext
    df = df.repartition(sc.defaultParallelism * 2, *key_cols)
    if disjoint:
        full, partial = rollup_time_weighted_parts(df, key_cols, step, origin)
        return full.unionByName(partial)
    return (
        split_at_buckets(df, step, origin)
        .groupBy(*key_cols, "bucket")
        .agg(*rollup_stats())
    )


def reaggregate_rollup(
    tier: DataFrame, key_cols: list[str], step: int, origin: int = 0
) -> DataFrame:
    """Build a coarser tier from a finer tier using the sufficient statistics
    (wsum = integral_s*1000, dur = support_ms). Exact because time-weighted
    sums are associative. Buckets of the finer tier must nest into the
    coarser step."""
    coarse = (F.col("bucket") - F.pmod(F.col("bucket") - origin, F.lit(step))).alias(
        "bucket"
    )
    return tier.groupBy(*key_cols, coarse).agg(
        (F.sum(F.col("integral_s") * 1000.0) / F.sum("support_ms")).alias("twmean"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum("integral_s").alias("integral_s"),
        F.sum("support_ms").alias("support_ms"),
        F.sum("n_pieces").alias("n_pieces"),
    )


def reservoir_stats(
    df: DataFrame,
    key_cols: list[str],
    size: int = 1028,
    seed: int = 42,
) -> DataFrame:
    """Distributed analog of the reference's uniform reservoir snapshot
    (stats/ThreadUnsafeDoubleUniformReservoir.scala:26-78, Vitter Algorithm
    R): per series, a uniform without-replacement sample of <= ``size``
    values plus the snapshot Stats over it -- real min/max/count over ALL
    observations, mean / SAMPLE stddev / codahale-interpolated median
    (pos = q*(n+1), lines 132-147) over the sample.

    Sampling strategy: bottom-k by a uniform 64-bit hash of the row.
    Equivalent in distribution to Algorithm R's uniform sample, but
    order-independent, deterministic under ``seed``, and mergeable across
    partitions -- one window rank + one aggregation, no sequential state.
    The sequential kernel twin (kernel.reservoir.Reservoir) is pinned equal
    on the sample=everything case in tests.

    Output: key_cols + n, vmin, vmax, sample_n, mean, stddev, median.
    """
    u = F.xxhash64(*key_cols, F.col("ts"), F.lit(seed))
    w = Window.partitionBy(*key_cols).orderBy(u.asc(), F.col("ts").asc())
    ranked = df.withColumn("_in", F.row_number().over(w) <= size)
    sample_v = F.when(F.col("_in"), F.col("value"))
    arr = F.sort_array(F.collect_list(sample_v))
    agg = ranked.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum(F.when(F.col("_in"), 1).otherwise(0)).alias("sample_n"),
        F.avg(sample_v).alias("mean"),
        F.coalesce(F.stddev_samp(sample_v), F.lit(0.0)).alias("stddev"),
        arr.alias("_arr"),
    )
    ns = F.size("_arr")
    pos = 0.5 * (ns + 1)
    idx = F.floor(pos).cast("int")
    median = (
        F.when(idx < 1, F.element_at("_arr", 1))
        .when(idx >= ns, F.element_at("_arr", ns))
        .otherwise(
            F.element_at("_arr", idx)
            + (pos - F.floor(pos))
            * (F.element_at("_arr", idx + 1) - F.element_at("_arr", idx))
        )
    )
    return agg.withColumn("median", median).drop("_arr")


def append_series(
    left: DataFrame, right: DataFrame, key_cols: list[str]
) -> DataFrame:
    """``left.append(right)``: the right side wins from its first timestamp
    on; the left is trimmed (split) at that point (TimeSeries.scala:226-230).
    Keys missing on the right pass the left through. Pure JVM: one
    broadcast-joinable aggregate + filters + union."""
    cuts = right.groupBy(*key_cols).agg(F.min("ts").alias("_cut"))
    trimmed = (
        left.join(F.broadcast(cuts), key_cols, "left")
        .filter(F.col("_cut").isNull() | (F.col("ts") < F.col("_cut")))
        .withColumn(
            "validity",
            F.when(
                F.col("_cut").isNotNull(),
                F.least(F.col("validity"), F.col("_cut") - F.col("ts")),
            ).otherwise(F.col("validity")),
        )
        .drop("_cut")
    )
    return trimmed.select(*key_cols, "ts", "value", "validity").unionByName(
        right.select(*key_cols, "ts", "value", "validity")
    )


def prepend_series(
    left: DataFrame, right: DataFrame, key_cols: list[str]
) -> DataFrame:
    """``left.prepend(right)``: the right side wins until its domain ends;
    the left's overlap is cut away (TimeSeries.scala:242-246)."""
    cuts = right.groupBy(*key_cols).agg(
        F.max(F.col("ts") + F.col("validity")).alias("_cut")
    )
    trimmed = (
        left.join(F.broadcast(cuts), key_cols, "left")
        .filter(
            F.col("_cut").isNull() | (F.col("ts") + F.col("validity") > F.col("_cut"))
        )
        .withColumn(
            "_new_ts",
            F.when(
                F.col("_cut").isNotNull(), F.greatest(F.col("ts"), F.col("_cut"))
            ).otherwise(F.col("ts")),
        )
        .withColumn("validity", F.col("ts") + F.col("validity") - F.col("_new_ts"))
        .drop("ts", "_cut")
        .withColumnRenamed("_new_ts", "ts")
    )
    return trimmed.select(*key_cols, "ts", "value", "validity").unionByName(
        right.select(*key_cols, "ts", "value", "validity")
    )


def group_entries_maxn(df: DataFrame, key_cols: list[str], max_n: int) -> DataFrame:
    """Chunk each series into groups of <= max_n entries keyed by the first
    entry's timestamp (TimeSeries.scala:579-586). Output: one row per group
    with its start ts and size. Pure JVM window."""
    w = Window.partitionBy(*key_cols).orderBy("ts")
    grouped = df.withColumn(
        "grp", ((F.row_number().over(w) - 1) / max_n).cast("long")
    )
    return grouped.groupBy(*key_cols, "grp").agg(
        F.min("ts").alias("group_start_ts"),
        F.count(F.lit(1)).alias("n_in_group"),
        F.sum("validity").alias("group_support_ms"),
    ).drop("grp")


def rollup_histogram(
    df: DataFrame,
    key_cols: list[str],
    step: int,
    bins: int = 32,
    lo: float = 0.0,
    hi: float = 100.0,
    origin: int = 0,
) -> DataFrame:
    """Reaggregatable histogram sketch per rollup bucket: a fixed
    equi-width, TIME-WEIGHTED histogram of the values in each (series,
    bucket) -- ``hist[i]`` = total milliseconds the series spent in value
    bin i (values clamped to [lo, hi)). Because the sufficient statistic is
    an integer vector, a coarser bucket's histogram is EXACTLY the
    element-wise sum of its nested finer buckets' (pinned by test), so
    approximate quantiles at any granularity need no raw data -- the sketch
    analog of the wsum/dur statistics.

    Pure Catalyst: boundary-split explode, then one hash aggregate with
    ``bins`` conditional sums (map-side combine applies). Output: key_cols
    + bucket, hist (array<long>, length ``bins``), support_ms.
    """
    pieces = split_at_buckets(df, step, origin)
    width = (hi - lo) / bins
    bin_idx = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("value") - lo) / width)),
    ).cast("int")
    binned = pieces.withColumn("_bin", bin_idx)
    return binned.groupBy(*key_cols, "bucket").agg(
        F.array(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("_bin") == i, F.col("validity"))),
                    F.lit(0),
                ).cast("long")
                for i in range(bins)
            ]
        ).alias("hist"),
        F.sum("validity").alias("support_ms"),
    )


def histogram_median(
    df: DataFrame, bins: int = 32, lo: float = 0.0, hi: float = 100.0
) -> DataFrame:
    """Approximate median from the histogram sketch: the midpoint of the
    first bin whose cumulative time-weight reaches half the support.
    Pure expression (an aggregate fold over the array), no explode."""
    width = (hi - lo) / bins
    # fold: carry (cum, found_bin); pick the first bin crossing half
    half = F.col("support_ms") / 2.0
    fold = F.aggregate(
        F.col("hist"),
        F.struct(F.lit(0.0).alias("cum"), F.lit(-1).alias("bin"),
                 F.lit(0).alias("idx")),
        lambda acc, x: F.struct(
            (acc["cum"] + x).alias("cum"),
            F.when(
                (acc["bin"] == -1) & (acc["cum"] + x >= half), acc["idx"]
            ).otherwise(acc["bin"]).alias("bin"),
            (acc["idx"] + 1).alias("idx"),
        ),
    )
    return df.withColumn(
        "median_approx", F.lit(lo) + (fold["bin"] + 0.5) * width
    )


def integrate_between(
    df: DataFrame, key_cols: list[str], start: int, end: int
) -> DataFrame:
    """Sum of values over the slice [start, end) per series
    (TimeSeries.scala:351-353, deprecated upstream but part of the public
    API): slice semantics keep boundary-straddling entries (trimmed, value
    unchanged), so this is a plain filtered sum -- one scan + one hash
    aggregate. For time-weighted integration use step_integral /
    sliding_grid_agg instead, as the reference's deprecation note says."""
    return (
        slice_series(df, start, end)
        .groupBy(*key_cols)
        .agg(F.sum("value").alias("value_sum"))
    )


def value_stats(df: DataFrame, key_cols: list[str], round_to: int = 5) -> DataFrame:
    """Per-series value statistics matching the reference Stats snapshot
    (stats/ThreadUnsafeDoubleUniformReservoir.scala:94-147, computed exactly
    instead of reservoir-sampled): min, max, mean, sample stddev (n-1),
    linear-interpolated median."""
    # epsilon-biased half-up rounding: plain round() ties (exact .5 at the
    # last digit, common when averaging 2-decimal values) resolve
    # differently across engines
    return df.groupBy(*key_cols).agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        eps_floor(F.avg("value"), round_to).alias("vmean"),
        eps_floor(
            F.coalesce(F.stddev_samp("value"), F.lit(0.0)), round_to
        ).alias("vstddev"),
        eps_floor(F.expr("percentile(value, 0.5)"), round_to).alias("vmedian"),
        F.count(F.lit(1)).alias("n"),
    )


def series_stats(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-series metadata: loose domain, support ratio, size, continuity and
    compression flags (TimeSeries.scala:88-91, 510-545).

    ``is_domain_continuous`` mirrors TSEntryFitter.scala:38,60-63 (every
    entry's end reaches the next entry's start); ``is_compressed`` is true
    when no adjacent pair is still mergeable (equal values with touching or
    overlapping domains, TSEntry.scala:187-199) -- i.e. the series is in the
    canonical form the fitter would produce with ``compress=True``.

    One shuffle total: the lead() window and the groupBy hash-partition on
    the same keys, so Catalyst reuses the exchange.
    """
    w = Window.partitionBy(*key_cols).orderBy("ts")
    nxt_ts = F.lead("ts").over(w)
    nxt_val = F.lead("value").over(w)
    until = F.col("ts") + F.col("validity")
    flagged = df.select(
        *key_cols,
        "ts",
        "validity",
        F.coalesce(nxt_ts <= until, F.lit(True)).alias("_contig"),
        (~F.coalesce((nxt_val == F.col("value")) & (nxt_ts <= until),
                     F.lit(False))).alias("_unmergeable"),
    )
    w_until = F.max(_until())
    return flagged.groupBy(*key_cols).agg(
        F.min("ts").alias("domain_start"),
        w_until.alias("domain_until"),
        F.count(F.lit(1)).alias("n_entries"),
        F.sum("validity").alias("support_ms"),
        (F.sum("validity") / (w_until - F.min("ts"))).alias("support_ratio"),
        F.bool_and("_contig").alias("is_domain_continuous"),
        F.bool_and("_unmergeable").alias("is_compressed"),
    )


def domain_union_intersect(
    left: DataFrame, right: DataFrame, key_cols: list[str]
) -> DataFrame:
    """unionLooseDomains / intersectLooseDomains (TimeSeries.scala:655-671,
    TimeDomain.scala:25-45): the hole-ignoring hull union and the
    intersection of two series' loose domains, per key. Intersection
    columns are null when the domains do not overlap (EmptyTimeDomain)."""
    def dom(df, tag):
        return df.groupBy(*key_cols).agg(
            F.min("ts").alias(f"{tag}_start"),
            F.max(_until()).alias(f"{tag}_until"),
        )

    j = dom(left, "a").join(dom(right, "b"), key_cols, "inner")
    i_start = F.greatest("a_start", "b_start")
    i_until = F.least("a_until", "b_until")
    empty = i_start >= i_until
    return j.select(
        *key_cols,
        F.least("a_start", "b_start").alias("union_start"),
        F.greatest("a_until", "b_until").alias("union_until"),
        F.when(empty, F.lit(None)).otherwise(i_start).alias("intersect_start"),
        F.when(empty, F.lit(None)).otherwise(i_until).alias("intersect_until"),
    )


def at_timestamps(
    df: DataFrame, key_cols: list[str], probes: list[int]
) -> DataFrame:
    """Batched point lookup ``at(t)`` (TimeSeries.scala:15, binary search
    VectorTimeSeries.scala:183-224): for every series and probe timestamp,
    the value of the entry defined at that instant (absent in holes).

    The as-of-join pattern: probes are a tiny broadcast side; the entries
    scan stays partition-pruned and each entry meets each probe once in a
    range-predicate join. At table scale the per-probe work is one scan of
    the pruned entries, never a shuffle of the big side.
    """
    spark = df.sparkSession
    probe_df = spark.createDataFrame([(int(p),) for p in probes], "probe_ts long")
    return (
        df.join(
            F.broadcast(probe_df),
            (F.col("probe_ts") >= F.col("ts")) & (F.col("probe_ts") < _until()),
        )
        .select(*key_cols, "probe_ts", "value")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    check_validity: bool = True,
    output_col: str = "value",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed as-of join: every left row gets the value of the LATEST
    right entry with ``right.ts <= left.ts`` per key (the generalization of
    ``at(t)`` from a broadcastable probe set to an arbitrarily large probe
    TABLE). With ``check_validity`` the match must also still be defined at
    the probe instant (``left.ts < right.ts + right.validity``), matching
    the reference's ``at`` semantics; without it, plain last-observation.

    Scale shape: the union-and-carry trick -- tag both sides, one hash
    shuffle on the key, one ordered window pass with ``last(..,
    ignorenulls)`` carrying the right side's payload forward. No broadcast
    of either side, no range join explosion; skew follows the key
    distribution like any windowed operator.

    Output: the left rows (``key_cols`` + ``ts_col`` + carried columns) +
    ``output_col`` (null where no match). ``output_col`` must not collide
    with a carried left column -- rename the left column or pass a
    different name.

    ``payload_cols`` selects which non-key left columns ride through the
    union+window carry (default: all of them). The carry's exchange and
    sort ship every payload byte, so for a WIDE left table pass only the
    columns the consumer needs -- carrying an unused 1 KiB payload column
    through the shuffle costs more than the join itself at scale.

    The right side's (value, ts, validity) ride as ONE struct through a
    single ``last(ignorenulls)`` so the three fields can never desync
    (a right row either contributes all three or none).
    """
    payload = (
        [c for c in left.columns if c not in (*key_cols, ts_col)]
        if payload_cols is None
        else list(payload_cols)
    )
    if output_col in payload:
        raise ValueError(
            f"output_col {output_col!r} collides with a left column; rename "
            "it on the left side or pass a different output_col"
        )
    r_struct = F.struct(
        F.col("value").alias("v"),
        F.col("ts").alias("ts"),
        F.col("validity").alias("dur"),
    )
    null_struct = F.lit(None).cast("struct<v:double,ts:bigint,dur:bigint>")
    l_tagged = left.select(
        *key_cols,
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),
        null_struct.alias("_r"),
        F.struct(*[F.col(c) for c in payload]).alias("_payload")
        if payload else F.lit(None).alias("_payload"),
    )
    r_tagged = right.select(
        *key_cols,
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),  # right sorts first at equal ts: inclusive
        r_struct.alias("_r"),
        F.lit(None).alias("_payload") if not payload
        else F.lit(None).cast(l_tagged.schema["_payload"].dataType).alias("_payload"),
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        l_tagged.unionByName(r_tagged)
        .withColumn("_c", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    value = F.col("_c.v")
    if check_validity:
        value = F.when(
            F.col("_ts") < F.col("_c.ts") + F.col("_c.dur"), F.col("_c.v")
        )
    return carried.select(
        *key_cols,
        F.col("_ts").alias(ts_col),
        *[F.col("_payload")[c].alias(c) for c in payload],
        value.alias(output_col),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """Interval (range) join: every pair of OVERLAPPING entries between two
    entries tables, per key, with the overlap window.

    Scale shape: a raw theta-join on the overlap predicate degenerates to a
    per-key cross product. Instead both sides are bucket-blocked -- each
    entry is exploded to the coarse ``bucket_ms`` buckets its domain spans
    (sequence/explode, pure JVM) while KEEPING the original entry -- the
    join is equi on (key, bucket) plus the overlap predicate, and a pair
    spanning several shared buckets is emitted exactly once by attributing
    it to the bucket containing the overlap start. Join work scales with
    entries-per-bucket, not entries-per-key; pick ``bucket_ms`` near the
    typical entry validity.

    Output: key cols + l_ts, l_value, r_ts, r_value, overlap_start,
    overlap_ms.
    """
    def blocked(df, tag):
        until = F.col("ts") + F.col("validity")
        b0 = F.floor(F.col("ts") / bucket_ms)
        b1 = F.floor((until - 1) / bucket_ms)
        return df.select(
            *key_cols,
            F.col("ts").alias(f"{tag}_ts"),
            F.col("value").alias(f"{tag}_value"),
            until.alias(f"{tag}_until"),
            F.explode(F.sequence(b0, b1)).alias("bucket"),
        )

    a = blocked(left, "l")
    b = blocked(right, "r")
    ov_start = F.greatest("l_ts", "r_ts")
    ov_end = F.least("l_until", "r_until")
    return (
        a.join(b, [*key_cols, "bucket"])
        .filter(
            (ov_start < ov_end)
            # exactly-once: only the bucket containing the overlap start
            & (F.floor(ov_start / bucket_ms) == F.col("bucket"))
        )
        .select(
            *key_cols,
            "l_ts", "l_value", "r_ts", "r_value",
            ov_start.alias("overlap_start"),
            (ov_end - ov_start).alias("overlap_ms"),
        )
    )


def sample_strict_grid(
    df: DataFrame, key_cols: list[str], rate: int, start_expr=None
) -> DataFrame:
    """Strict sampling on a fixed grid, fully JVM-side.

    Grid points are ``start + k*rate`` per series (``start`` defaults to the
    series' first timestamp, like WindowSlider's resampling). A grid point p
    takes the value of the entry with the largest ts <= p if p < its end
    (reference strict sample, TimeSeries.scala:622-624). Implemented as an
    as-of join: explode each entry to the grid points it covers -- exact
    because entries are non-overlapping, and cheap because an entry covers
    ~validity/rate grid points.
    """
    # pin pre-explode parallelism: AQE would coalesce the compact input to
    # ~1 partition and serialize the ~validity/rate-amplified Generate and
    # every downstream per-key window (user-numbered repartitions are
    # exempt from AQE coalescing; the window reuses this distribution)
    sc = df.sparkSession.sparkContext
    df = df.repartition(sc.defaultParallelism * 2, *key_cols)
    w = Window.partitionBy(*key_cols)
    if start_expr is None:
        start_expr = F.min("ts").over(w)
    df = df.withColumn("grid_start", start_expr)
    # first grid point >= ts (ceil), last grid point < until; integer
    # arithmetic, offsets from grid_start are non-negative
    off = F.col("ts") - F.col("grid_start")
    k_first = ((off + rate - 1) - F.pmod(off + rate - 1, F.lit(rate))) / rate
    k_first = k_first.cast("long")
    off_last = F.col("ts") + F.col("validity") - 1 - F.col("grid_start")
    k_last = ((off_last - F.pmod(off_last, F.lit(rate))) / rate).cast("long")
    return (
        df.filter(k_last >= k_first)
        .withColumn("k", F.explode(F.sequence(k_first, k_last)))
        .select(
            *key_cols,
            (F.col("grid_start") + F.col("k") * rate).alias("ts"),
            "value",
            F.lit(rate).alias("validity"),
        )
    )
