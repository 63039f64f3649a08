"""Integrals over step functions (TSEntry.scala:269-280,
NumericTimeSeries.scala:66-130).

An entry's integral is value x validity-in-seconds; the time unit of the
validities is given by ``timeunit`` ('ms' default, 's', 'us'), mirroring the
reference's ``java.util.concurrent.TimeUnit`` parameter.
"""

from __future__ import annotations

__all__ = ["seconds_factor", "step_integral", "sliding_integral"]

_FACTORS = {"ms": 1e-3, "s": 1.0, "us": 1e-6, "ns": 1e-9, "m": 60.0, "h": 3600.0}


def seconds_factor(timeunit: str) -> float:
    try:
        return _FACTORS[timeunit]
    except KeyError:
        raise ValueError(f"unknown time unit {timeunit!r}") from None


def step_integral(entries, timeunit: str = "ms"):
    """Running cumulative integral; each output entry's value is the sum of
    integrals of itself and all entries before it (NumericTimeSeries.scala:66-91).
    The result is still a step function (same timestamps/validities)."""
    f = seconds_factor(timeunit)
    out = []
    acc = 0.0
    for ts, value, validity in entries:
        acc += float(value) * validity * f
        out.append((ts, acc, validity))
    return out


def sliding_integral(entries, window: int, sample_rate: int, timeunit: str = "ms"):
    """Sample on a fixed grid, then slide a reversible integral aggregator
    (NumericTimeSeries.scala:111-130). Output is NOT compressed (the
    reference's NumericTimeSeries-level behavior pinned by
    NumericTimeSeriesSpec.scala:147-292)."""
    if window < sample_rate:
        raise ValueError("The window must be at least as large as the sample rate.")
    from .window import IntegralAggregator, window_sweep

    out = []
    for (ts, _content, validity), agg in window_sweep(
        entries, window, IntegralAggregator(timeunit), sample_rate=sample_rate
    ):
        if agg is not None:
            out.append((ts, agg, validity))
    return out
