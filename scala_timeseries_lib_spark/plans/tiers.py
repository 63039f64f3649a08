"""Continuous-aggregate retention tiers: raw entries -> 1m -> 1h -> 1d.

Each tier is a partitioned table of rolled-up points carrying
reaggregatable sufficient statistics, so every coarser tier is computed
from the previous tier without touching raw data (wsum/dur/min/max are
associative). The physical format goes through the StorageBackend seam
(plans/storage.py): partitioned parquet with dynamic partition overwrite
by default, Iceberg tables (``writeTo(...).overwritePartitions()``) when
an ``iceberg-spark-runtime`` jar is on the classpath -- the partition spec
and the idempotent-rerun contract carry over unchanged, pinned by
tests/test_storage_backend.py.

Finest-tier plan, chosen by size: the run's stats aggregate (one job,
needed anyway for rows in and watermarks) also sums entry validity, which
bounds the finest-tier pieces by ``sum(validity) // step + 2 * rows``.
Below ``SPLIT_MIN_PIECES`` (1M) the tier is one explode + hash aggregate
(``rollup_time_weighted(disjoint=False)``); at or above, the operator's
full/partial split (``disjoint=True``: no hash table for fully-covered
buckets; its ~2 extra stages only pay off at scale). The choice is logged
as one INFO record (``op`` ``tiers.finest_plan``) on the
``scala_timeseries_lib_spark`` logger.

One tier chain, on cold and incremental runs alike: every coarser tier is
``reaggregate_rollup`` of the STORED finer tier, read back with the schema
of the frame just written (no inference job), so raw data is only ever
scanned by the finest tier and nothing is persisted in memory.

Incremental maintenance: each run processes, per key-salt partition, only
entries whose domain reaches past that partition's checkpointed watermark
minus one full day of overlap (a late-arriving entry can extend the last,
still-open bucket), recomputes exactly the affected day partitions, and
overwrites them idempotently (dynamic partition overwrite). The checkpoint
stores PER-SALT-PARTITION watermarks. Lineage is read from what the write
committed, not from a count job: per (day, salt) partition of the run's
rewrite window, ``rows`` from the parquet footers and ``bytes_approx`` the
data files' real size on disk (``StorageBackend.partition_stats``); the
records go to the ``_metrics`` side table. A killed job rerun from the same
checkpoint produces the same tables (pinned by tests/test_pipeline_e2e.py).

Scale: writes are partitioned by (time slab, key-hash bucket) -- the salted
(url-bucket, time-bucket) scheme from the north rule -- so hot domains
spread over ``n_salt`` files and time pruning works on the partition
column. Partition slabs widen with the tier (>= 256 buckets per slab):
coarser tiers have ~1/60th the rows, and per-dir commit cost would dominate
their writes under a fixed daily layout. On incremental runs each coarser
tier reads the stored finer tier back for its own full rewrite window.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .._records import decision_record
from ..operators.series_ops import reaggregate_rollup, rollup_time_weighted
from .stateio import StateIO
from .storage import ParquetBackend, StorageBackend

__all__ = ["TierPipeline", "TIER_STEPS"]

TIER_STEPS = {"1m": 60_000, "1h": 3_600_000, "1d": 86_400_000}

# Finest-tier piece bound from which the full/partial split plan is built.
# Below it the single explode + hash aggregate is cheaper (fewer stages),
# and still safe for a hot key: the aggregate runs ~1 us per piece in one
# task (16M hot-key pieces took 17 s, BENCH/BASELINE.md), so <= 1M pieces
# cost <= ~1 s even if one key owns them all.
SPLIT_MIN_PIECES = 1_000_000

# "no lower bound" for per-salt maps
_NO_LOW = -(1 << 62)

_METRICS_SCHEMA = (
    "run_id string, tier string, p_day long, p_salt int, rows long, "
    "bytes_approx long, rows_in long, started long"
)
_METRICS_COLS = [c.split()[0] for c in _METRICS_SCHEMA.split(", ")]


class TierPipeline:
    """Materialize and incrementally maintain the 1m/1h/1d rollup tiers.

    One ``update`` runs one stats job, then one write per tier and one
    metrics append (plus their AQE shuffle stages); the finest tier's plan
    is chosen by size (module docstring).

    Rerun idempotence is **up to rounding, not byte-exact** (ADVICE r3):
    coarser-tier float aggregates (``twmean``/``integral_s``) are sums of
    doubles, and IEEE summation order differs between the single and split
    finest-tier plans -- and is not even deterministic WITHIN one plan,
    since hash-aggregate accumulation order follows row arrival order.
    Cold and incremental runs share one reaggregation path (the stored
    finer tier), so they differ only in that arrival order. A rewrite of an
    unchanged partition may therefore flip the last ulp of a float column.
    Exact columns (``bucket``, ``vmin``/``vmax``, ``support_ms``,
    ``n_pieces``) are byte-stable; float equality across reruns is pinned
    at 9 decimals by tests/test_pipeline_e2e.py. Consumers needing
    cross-run hash equality should round floats
    (functions/rounding.py:eps_floor), as the oracle queries do."""

    def __init__(
        self,
        base_dir: str,
        key_cols: list[str],
        steps: dict[str, int] | None = None,
        n_salt: int = 16,
        io: StateIO | None = None,
        backend: StorageBackend | None = None,
    ):
        self.base_dir = base_dir
        # physical table format seam (plans/storage.py): parquet unless the
        # caller passes another backend (IcebergBackend() needs its runtime
        # jar) -- the pipeline only ever calls ref/read/overwrite_partitions/
        # append, so the checkpoint + lineage behavior is backend-independent
        # (pinned by tests/test_storage_backend.py)
        self.backend = backend or ParquetBackend()
        # checkpoint/pointer state goes through the Hadoop FS router so a
        # DFS base dir (hdfs://, s3a://, shared file://) works cluster-wide
        self.io = io or StateIO()
        self.key_cols = list(key_cols)
        self.steps = dict(steps or TIER_STEPS)
        names = list(self.steps)
        assert all(
            self.steps[b] % self.steps[a] == 0
            for a, b in zip(names, names[1:])
        ), "tier steps must nest"
        self.n_salt = n_salt

    # -- paths -------------------------------------------------------------
    def tier_path(self, name: str) -> str:
        return self.backend.ref(self.base_dir, f"tier_{name}")

    @property
    def checkpoint_path(self) -> str:
        return os.path.join(self.base_dir, "_checkpoint.json")

    @property
    def metrics_path(self) -> str:
        return os.path.join(self.base_dir, "_metrics")

    # -- checkpoint --------------------------------------------------------
    def read_checkpoint(self) -> dict:
        ckpt = self.io.read_json_state(self.checkpoint_path)
        if ckpt is not None:
            # migrate pre-per-partition checkpoints (single global watermark)
            if "watermarks" not in ckpt:
                wm = ckpt.pop("watermark_ms", None)
                ckpt["watermarks"] = (
                    {} if wm is None
                    else {str(s): wm for s in range(self.n_salt)}
                )
            return ckpt
        return {"watermarks": {}, "runs": []}

    def _commit_checkpoint(self, ckpt: dict) -> None:
        # atomic commit (tmp + rename), DFS-capable via the StateIO router
        self.io.write_json_atomic(self.checkpoint_path, ckpt)

    # -- build -------------------------------------------------------------
    def _part_step(self, name: str) -> int:
        """Time width of one output partition for this tier.

        Coarser tiers get coarser partitions (>= 256 buckets per partition,
        never finer than a day): a (day, salt) layout that is right for the
        1m tier would give the 1d tier hundreds of near-empty dirs, and
        partitioned-write cost is dominated by the dir count, not the rows
        (measured ~7ms/dir for dynamic-overwrite commit on this box).
        """
        return max(86_400_000, 256 * self.steps[name])

    def _salted(self, df: DataFrame, part_step: int) -> DataFrame:
        """Partition layout columns: time slab + key-hash salt bucket."""
        return df.withColumn(
            "p_day", (F.col("bucket") - F.pmod(F.col("bucket"), F.lit(part_step)))
        ).withColumn(
            "p_salt", F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_salt))
        )

    @staticmethod
    def _lo_map(lows: dict[int, int]):
        """salt -> lower-bound map literal; missing salts read as -inf so
        they pass every bound (one map-lookup expression per row, instead
        of an n_salt-way boolean chain)."""
        pairs = [x for s, lo in lows.items() for x in (F.lit(s), F.lit(lo))]
        lookup = F.create_map(*pairs) if pairs else F.create_map()
        return lambda salt_col: F.coalesce(
            F.element_at(lookup, salt_col.cast("int")), F.lit(_NO_LOW)
        )

    def _per_salt_bucket_filter(self, lows: dict[int, int]):
        """bucket >= lows[salt] per key-salt, True for salts without a low."""
        salt_col = F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_salt))
        return F.col("bucket") >= self._lo_map(lows)(salt_col)

    def update(self, entries: DataFrame, run_id: str | None = None) -> dict:
        """Process new entries incrementally; returns the lineage record.

        ``entries`` is the full entries table (or a stream batch). Each
        key-salt partition advances independently: rows of salt ``s`` are
        (re)processed only where their domain reaches past
        ``watermarks[s] - 1 day``. Overwrites only the affected
        (day, salt) partitions, so reruns are idempotent.
        """
        spark = entries.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ckpt = self.read_checkpoint()
        names = list(self.steps)
        finest = names[0]
        max_step = max(self.steps.values())

        salted_in = entries.withColumn(
            "p_salt", F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_salt))
        )
        wms = ckpt["watermarks"]
        # changed_from[s]: the earliest finest bucket that may still change
        # for salt s -- one full max_step of overlap below the watermark
        # covers open buckets and re-extended last entries (entry validity
        # is capped <= max_step)
        changed_from = {
            s: (wms[str(s)] - wms[str(s)] % max_step) - max_step
            for s in range(self.n_salt)
            if str(s) in wms
        }
        # per tier: the lower edge of the rewritten partitions, aligned DOWN
        # to that tier's partition step (dynamic overwrite replaces whole
        # partitions, so every bucket of a touched partition must be present)
        lows = {
            name: {
                s: cf - cf % self._part_step(name)
                for s, cf in changed_from.items()
            }
            for name in names
        }
        if changed_from:
            bound = self._lo_map(lows[finest])(F.col("p_salt"))
            new_entries = salted_in.filter(
                F.col("ts") + F.col("validity") > bound
            )
        else:
            new_entries = salted_in

        t0 = time.perf_counter()
        stats = new_entries.groupBy("p_salt").agg(
            F.count(F.lit(1)).alias("rows"),
            F.max(F.col("ts") + F.col("validity")).alias("max_until"),
            F.sum("validity").alias("validity_ms"),
        ).collect()
        stats_ms = (time.perf_counter() - t0) * 1000.0
        rows_in = sum(r["rows"] for r in stats)
        lineage = {
            "run_id": run_id or f"run-{len(ckpt['runs'])}",
            "rows_in": int(rows_in),
            "rows_in_by_salt": {str(r["p_salt"]): int(r["rows"]) for r in stats},
            "tiers": {},
            "started_unix": int(time.time()),
        }
        if rows_in == 0:
            ckpt["runs"].append(lineage)
            self._commit_checkpoint(ckpt)
            return lineage

        new_entries = new_entries.drop("p_salt")
        step = self.steps[finest]
        # an entry splits into at most validity // step + 2 finest pieces
        pieces_bound = (
            sum(int(r["validity_ms"] or 0) for r in stats) // step + 2 * rows_in
        )
        split = pieces_bound >= SPLIT_MIN_PIECES
        plan = "split" if split else "single"
        decision_record(
            "tiers.finest_plan",
            plan,
            {
                "pieces_bound": pieces_bound,
                "rows_in": int(rows_in),
                "split_min_pieces": SPLIT_MIN_PIECES,
            },
            stats_ms,
        )
        tier_df = rollup_time_weighted(
            new_entries, self.key_cols, step, disjoint=split
        )
        for i, name in enumerate(names):
            if i > 0:
                # a coarser tier reaggregates the STORED finer tier, never
                # raw data; on an incremental run its partitions are wider
                # than the finer tier's increment, so it reads the finer
                # tier back for its own full rewrite window
                tier_df = reaggregate_rollup(
                    self.backend.read(
                        spark, self.tier_path(names[i - 1]), schema
                    ).drop("p_day", "p_salt"),
                    self.key_cols,
                    self.steps[name],
                )
            if changed_from:
                # drop partial buckets below the rewritten partitions
                tier_df = tier_df.filter(
                    self._per_salt_bucket_filter(lows[name])
                )
            schema = self._write_tier(
                name, tier_df, lineage, lows[name] if changed_from else None
            )

        for r in stats:
            if r["max_until"] is not None:
                ckpt["watermarks"][str(r["p_salt"])] = int(r["max_until"])
        ckpt["runs"].append(lineage)
        self._commit_checkpoint(ckpt)
        self._write_metrics(spark, lineage)
        return lineage

    def _write_tier(
        self,
        name: str,
        df: DataFrame,
        lineage: dict,
        lows: dict[int, int] | None,
    ) -> StructType:
        """Overwrite the (day, salt) partitions present in ``df``, then
        record per-partition row/byte lineage from the committed files of
        this run's rewrite window: every partition on a first run (``lows``
        is None), ``p_day >= lows[p_salt]`` on an incremental one. Returns
        the schema of the written frame, for reading the tier back."""
        spark = df.sparkSession
        path = self.tier_path(name)
        salted = self._salted(df, self._part_step(name))
        # user-numbered repartition: AQE's size-based coalescing would squash
        # a small tier to ONE task, which then writes every (day, salt)
        # partition dir serially; pinning the count keeps the file fan-out
        # parallel (same trap as the Arrow kernel stages, operators/_kernel.py)
        n_write = spark.sparkContext.defaultParallelism * 2
        self.backend.overwrite_partitions(
            salted.repartition(n_write, "p_day", "p_salt"),
            path,
            ["p_day", "p_salt"],
        )
        parts = self.backend.partition_stats(
            spark, path, None if lows is None else self._in_window(lows)
        )
        # per-output-partition row/byte lineage (the north rule's
        # "lineage + row/byte metrics emitted per partition")
        lineage["tiers"][name] = {
            "points": sum(p["rows"] for p in parts),
            "path": path,
            "partitions": [
                {
                    "p_day": p["p_day"],
                    "p_salt": p["p_salt"],
                    "rows": p["rows"],
                    "bytes_approx": p["bytes"],
                }
                for p in sorted(parts, key=lambda p: (p["p_day"], p["p_salt"]))
            ],
        }
        return salted.schema

    def _in_window(self, lows: dict[int, int]):
        """Partition pruning predicate for :meth:`StorageBackend.partition_stats`:
        ``p_day >= lows[p_salt]``; before the salt is known, the smallest
        low of any salt (a salt without a low keeps everything)."""
        floor = min(lows.get(s, _NO_LOW) for s in range(self.n_salt))

        def keep(part: dict) -> bool:
            lo = lows.get(part["p_salt"], _NO_LOW) if "p_salt" in part else floor
            return part.get("p_day", lo) >= lo

        return keep

    def _write_metrics(self, spark: SparkSession, lineage: dict) -> None:
        """Append one row per (tier, partition) to the ``_metrics`` side
        table. The rows go through the Arrow path of ``createDataFrame``
        (a JVM-local relation: no Python worker starts) as one file."""
        import pandas as pd

        rec = [
            (
                lineage["run_id"],
                name,
                p["p_day"],
                p["p_salt"],
                p["rows"],
                p["bytes_approx"],
                lineage["rows_in"],
                lineage["started_unix"],
            )
            for name, t in lineage["tiers"].items()
            for p in t["partitions"]
        ]
        pdf = pd.DataFrame.from_records(rec, columns=_METRICS_COLS)
        self.backend.append(
            spark.createDataFrame(pdf, _METRICS_SCHEMA).coalesce(1),
            self.backend.ref(self.base_dir, "_metrics"),
        )

    def read_tier(self, spark: SparkSession, name: str) -> DataFrame:
        return self.backend.read(spark, self.tier_path(name)).drop(
            "p_day", "p_salt"
        )
