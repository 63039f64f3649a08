"""``SPARK_GRAFT_*`` knobs, validated where they are read.

A malformed knob must never crash the package: an integer knob that is
not an integer falls back to the default, one below 1 is clamped to 1
(a zero bucket size or shuffle width is meaningless); a string knob that
does not match its pattern falls back to the default. Each warns.
"""

from __future__ import annotations

import os
import re
import warnings

__all__ = ["env_int", "env_str"]


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


def env_str(name: str, default: str, pattern: str) -> str:
    """``$name`` when it fully matches ``pattern`` (case-insensitive);
    ``default`` when unset or malformed."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    if re.fullmatch(pattern, raw, re.IGNORECASE):
        return raw
    warnings.warn(
        f"{name}={raw!r} does not match {pattern!r}; using the default {default!r}",
        RuntimeWarning,
        stacklevel=2,
    )
    return default
