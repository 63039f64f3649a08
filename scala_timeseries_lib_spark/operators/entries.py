"""Construction of entries tables: derive validity, fit/compress series.

Mirrors the reference's construction path (TimeSeries.scala:720-735 +
validation/TSEntryFitter.scala): sort by timestamp within each series, trim
overlaps, optionally RLE-compress equal contiguous values.

Scale notes:
- ``derive_entries`` is pure JVM: one hash shuffle on the series key (the
  window partition), then ``lead`` -- no Python.
- ``fit_entries`` needs the RLE/trim semantics; it runs the vectorized numpy
  fitter per series group via ``applyInPandas`` (one shuffle on the key).
  For already-ordered, non-overlapping input with ``compress=False`` it is a
  no-op and should be skipped entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["derive_entries", "fit_entries", "ENTRY_COLS"]

ENTRY_COLS = ["ts", "value", "validity"]


def derive_entries(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    default_validity: int = 3_600_000,
) -> DataFrame:
    """Turn an event log into an entries table.

    Each observation becomes a step-function entry valid until the next
    observation of the same series, capped at ``default_validity`` (the cap
    plays the role of the reference's explicit validity and guarantees the
    Gorilla gap constraint can be met per block).

    Duplicate millisecond timestamps within a series are resolved
    deterministically (highest value wins) to satisfy the strictly-increasing
    contract (TimestampValidator.scala:89-94).
    """
    # cast covers TIMESTAMP_NTZ parquet columns; session timezone is pinned
    # to UTC in plans.session.get_spark so wall-clock == epoch semantics
    base = df.select(
        *key_cols,
        F.unix_millis(F.col(ts_col).cast("timestamp")).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    dedup_w = Window.partitionBy(*key_cols, "ts").orderBy(F.desc("value"))
    series_w = Window.partitionBy(*key_cols).orderBy("ts")
    # one shuffle, not two: hash partitioning on the key alone satisfies the
    # dedup window's (key, ts) clustering AND the lead window's (key)
    # clustering, so both run as sorts over the same exchange
    base = base.repartition(*key_cols)
    return (
        base.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn(
            "validity",
            F.coalesce(
                F.least(
                    F.lead("ts").over(series_w) - F.col("ts"),
                    F.lit(default_validity),
                ),
                F.lit(default_validity),
            ),
        )
    )


def fit_entries(df: DataFrame, key_cols: list[str], compress: bool = True) -> DataFrame:
    """Run the TSEntryFitter semantics per series (sort, trim, RLE-compress).

    Input may be unsorted within a series; duplicates of ``ts`` must already
    be resolved. Output columns = key_cols + ENTRY_COLS.

    The whole salt bucket fits in ONE vectorized pass (chain links and trims
    never cross a series boundary, kernel.fitter.fit_arrays_grouped) -- no
    per-series Python loop.
    """
    from ..kernel.fitter import fit_arrays_grouped
    from ._kernel import apply_grouped

    def _fit(codes, ts, value, validity):
        keep, ts, value, validity = fit_arrays_grouped(
            codes, ts, value, validity, compress=compress
        )
        return codes[keep], ts, value, validity

    # the value column keeps its input type (a fit never computes values)
    return apply_grouped(df, key_cols, _fit, values=(df.schema["value"],))
