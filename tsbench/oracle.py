"""DuckDB oracles, computed once per seed and cached next to the inputs.

- ``query_mix`` uses the registry's own ``oracle_sql()`` and the
  ``tools/check_oracle.py`` comparison (exact, sorted, dtype-sensitive).
- ``tier_maintain`` checks the stored 1h and 1d tiers, read back from
  parquet, against unrounded time-weighted rollups of the same entries:
  exact on keys, ``bucket``, ``support_ms``, ``vmin`` and ``vmax``, floats
  to 9 decimals (the tier rerun contract in ``plans/tiers.py``).
- ``query_mix``'s archive ops check the decoded entries, as a multiset,
  against the entries split at day boundaries and run-length merged inside
  each day, which is what ``write_blocks`` stores (one block per series and
  day, fitted with ``compress=True``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

KEYS = ["user_id", "event_type"]
HOUR_MS = 3_600_000
DAY_MS = 86_400_000


def connect(work_dir: str):
    import duckdb

    tmp = os.path.join(work_dir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB",
                                 "temp_directory": tmp})
    return con


def use_events(con, paths: list[str]) -> None:
    files = ", ".join(f"'{p}'" for p in paths)
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet([{files}])")


def read_parquet_dir(con, path: str) -> pd.DataFrame:
    """A stored table as written, read without Spark."""
    return con.execute(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    ).fetchdf()


def cached(con, sql: str, path: str) -> pd.DataFrame:
    """Run ``sql`` once; later calls read the cached result."""
    if not os.path.exists(path):
        df = con.execute(sql).fetchdf()
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
    return pd.read_parquet(path)


def _entries_cte() -> str:
    import __spark_entry__ as entry_mod

    return entry_mod.ENTRIES_CTE


def _pieces_cte(step: int) -> str:
    return _entries_cte() + f""",
pieces AS (
    SELECT user_id, event_type, value, b.bucket AS bucket,
        GREATEST(ts, b.bucket) AS ts,
        LEAST(ts + validity, b.bucket + {step}) - GREATEST(ts, b.bucket) AS dur
    FROM entries,
    LATERAL (
        SELECT UNNEST(generate_series(ts - (ts % {step}),
                                      (ts + validity - 1) - ((ts + validity - 1) % {step}),
                                      {step})) AS bucket
    ) b
)
"""


def tier_sql(step_name: str) -> str:
    bucket = "bucket" if step_name == "1h" else f"bucket - (bucket % {DAY_MS})"
    return _pieces_cte(HOUR_MS) + f"""
SELECT user_id, event_type, {bucket} AS bucket,
       SUM(value * dur) / SUM(dur) AS twmean,
       MIN(value) AS vmin, MAX(value) AS vmax,
       SUM(value * dur) / 1000.0 AS integral_s,
       CAST(SUM(dur) AS BIGINT) AS support_ms
FROM pieces GROUP BY user_id, event_type, {bucket}
"""


def archive_sql() -> str:
    return _pieces_cte(DAY_MS) + """,
flagged AS (
    SELECT *, CASE WHEN LAG(value) OVER w = value
                    AND LAG(ts + dur) OVER w = ts THEN 0 ELSE 1 END AS brk
    FROM pieces
    WINDOW w AS (PARTITION BY user_id, event_type, bucket ORDER BY ts)
), runs AS (
    SELECT *, SUM(brk) OVER (PARTITION BY user_id, event_type, bucket ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS run
    FROM flagged
)
SELECT user_id, event_type, CAST(MIN(ts) AS BIGINT) AS ts, MIN(value) AS value,
       CAST(SUM(dur) AS BIGINT) AS validity
FROM runs GROUP BY user_id, event_type, bucket, run
"""


def compare_exact(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    """The registry's correctness rule (tools/check_oracle.py)."""
    from tools.check_oracle import compare

    return compare(sdf, odf)


def compare_tier(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    cols = [*KEYS, "bucket", "twmean", "vmin", "vmax", "integral_s", "support_ms"]
    if len(sdf) != len(odf):
        return False, f"row count {len(sdf)} != {len(odf)}"
    order = [*KEYS, "bucket"]
    s = sdf[cols].sort_values(order, kind="mergesort").reset_index(drop=True)
    o = odf[cols].sort_values(order, kind="mergesort").reset_index(drop=True)
    for c in cols:
        if c in ("twmean", "integral_s"):
            a, b = s[c].to_numpy(float), o[c].to_numpy(float)
            ok = np.abs(a - b) <= 1e-9 * np.maximum(1.0, np.abs(b))
        else:
            ok = s[c].to_numpy() == o[c].to_numpy()
        if not ok.all():
            bad = np.flatnonzero(~ok)[:3].tolist()
            return False, (f"col {c} differs at rows {bad}: "
                           f"{s[c].iloc[bad].tolist()} vs {o[c].iloc[bad].tolist()}")
    return True, ""
