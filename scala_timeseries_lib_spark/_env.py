"""Integer ``SPARK_GRAFT_*`` knobs, read once at import.

A malformed knob must never crash the package at import: a value that is
not an integer falls back to the default, one below 1 is clamped to 1
(a zero bucket size or shuffle width is meaningless), each with a warning.
"""

from __future__ import annotations

import os
import warnings

__all__ = ["env_int"]


def env_int(name: str, default: int) -> int:
    """``int($name)`` clamped to >= 1; ``default`` when unset or malformed."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        warnings.warn(
            f"{name}={raw!r} is not an integer; using the default {default}",
            RuntimeWarning,
            stacklevel=2,
        )
        return default
    if value < 1:
        warnings.warn(
            f"{name}={raw!r} is below 1; using 1", RuntimeWarning, stacklevel=2
        )
        return 1
    return value
