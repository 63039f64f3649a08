"""Seeded synthetic inputs, cached per (workload, seed) under the work dir.

Every table has the shape of the repository's ``events`` fixture: columns
``event_id, ts (timestamp), user_id, event_type, value``, five event types,
timestamps uniform over whole days starting 2024-01-01 UTC (the day the
registry queries' fixed slice windows are anchored to), values drawn from a
gamma distribution and rounded to cents. The seed drives the user-id offset,
every timestamp (so sub-minute placement), event types and value jitter.
Nothing is read from outside the work dir.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
DAY_MS = 86_400_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

# users, days and events per user per day: 1500 short series of ~11-13
# events each, the fixture's series density
SPECS = {
    "tier_maintain": {"users": 300, "days": 8, "per_user_day": 2.2},
    "query_mix": {"users": 300, "days": 30, "per_user_day": 2.2},
}
# query_mix's archive table: 200 long series of ~400 events over 60 days,
# so a one-day block holds several entries
ARCHIVE_SPEC = {"users": 40, "days": 60, "per_user_day": 33.0}
# the sf0.001-sized table every session start warms up on
WARMUP_SPEC = {"users": 15, "days": 30, "per_user_day": 2.2}


def events_table(rng: np.random.Generator, users: int, days: int,
                 per_user_day: float) -> pa.Table:
    n = int(users * days * per_user_day)
    user_base = int(rng.integers(0, 1_000_000)) * 10
    ts_us = np.sort(T0_MS * 1000 + rng.integers(0, days * DAY_MS * 1000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": user_base + rng.integers(0, users, n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.gamma(1.0, 50.0, n), 2),
    })


def _write_events(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _entries(events_paths: list[str], work_dir: str, out: str | None = None) -> int:
    """Count the entries the registry's own derivation (``ENTRIES_CTE``:
    validity = gap to the next event, capped at 1 h) makes of the events;
    with ``out``, also write them there as parquet."""
    import duckdb

    import __spark_entry__ as entry_mod

    tmp = os.path.join(work_dir, "duckdb_tmp")
    con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB", "temp_directory": tmp})
    try:
        files = ", ".join(f"'{p}'" for p in events_paths)
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
        if out is not None:
            con.execute(
                f"COPY ({entry_mod.ENTRIES_CTE} SELECT user_id, event_type, ts, value, "
                f"validity FROM entries ORDER BY user_id, event_type, ts) "
                f"TO '{out}' (FORMAT parquet)")
        return con.execute(entry_mod.ENTRIES_CTE + "SELECT COUNT(*) FROM entries").fetchone()[0]
    finally:
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)


def _counts(table: pa.Table) -> dict:
    keys = table.select(["user_id", "event_type"]).to_pandas()
    return {"events": table.num_rows,
            "series": int(len(keys.drop_duplicates()))}


def generate(workload: str, seed: int, cache_root: str) -> dict:
    """Return ``{"dir": ..., "counts": {...}, ...}`` for the workload's
    inputs, generating them on the first call for this seed."""
    out = os.path.join(cache_root, workload, f"seed{seed}")
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return json.load(fh)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng([seed, sorted(SPECS).index(workload)])
    spec = SPECS[workload]
    table = events_table(rng, spec["users"], spec["days"], spec["per_user_day"])
    info = {"dir": out, "counts": _counts(table)}
    # the workloads read <dir>/events.parquet
    events = os.path.join(tmp, "events.parquet")
    _write_events(table, events)
    if workload == "query_mix":
        # the archive ops start from an entries table of long series
        archive = events_table(rng, **ARCHIVE_SPEC)
        info["counts"].update({f"archive_{k}": v for k, v in _counts(archive).items()})
        archive_dir = os.path.join(tmp, "archive")
        _write_events(archive, os.path.join(archive_dir, "events.parquet"))
        info["counts"]["archive_entries"] = _entries(
            [os.path.join(archive_dir, "events.parquet")], tmp,
            out=os.path.join(archive_dir, "entries.parquet"))
    info["counts"]["entries"] = _entries([events], tmp)
    warm = events_table(rng, **WARMUP_SPEC)
    _write_events(warm, os.path.join(tmp, "warmup", "events.parquet"))
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(info, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return info
