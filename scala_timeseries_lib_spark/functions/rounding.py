"""Cross-engine decimal rounding for oracle-compared float columns.

``ROUND`` is half-up in Spark and half-even (banker's) in DuckDB, and both
round the DECIMAL rendering of a double whose binary value may sit a few
ulps below the printed boundary -- so the same value can round differently
across engines whenever it lands within ~1e-16 of a half-decimal boundary
(observed in the wild: quality scores like 0.523125, time-weighted means
like 34.429565). The only safe scheme for hash-compared results is the
SAME closed-form expression on both sides:

    FLOOR(x * 10^d + 0.5 + 1e-6) / 10^d

(the 1e-6 epsilon absorbs representation error of ``x * 10^d``, valid for
|x| up to ~1e6 and d <= 6). Every float column that an oracle hashes goes
through :func:`eps_floor` on the Spark side and the identical ``FLOOR``
expression in the SQL text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["eps_floor"]


def eps_floor(col: Column, digits: int = 5) -> Column:
    m = 10 ** digits
    return F.floor(col * m + 0.5 + 1e-6) / m
