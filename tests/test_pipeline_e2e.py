"""End-to-end pipeline contracts:

- pages table determinism + byte-identical text extraction per row
  (BASELINE.json per-row invariant);
- tier pipeline: incremental updates converge to the same tables as a
  single full build; checkpoint + lineage recorded; rerun idempotent;
- control state (StateIO) on scheme'd paths and across crashed commits.
"""

import os

import pytest
from pyspark.sql import functions as F

from scala_timeseries_lib_spark.operators.entries import derive_entries
from scala_timeseries_lib_spark.plans.tiers import TierPipeline
from scala_timeseries_lib_spark.sources.extract import extract_text_py
from scala_timeseries_lib_spark.sources.pages import pages_table

pytestmark = pytest.mark.spark

KEYS = ["user_id", "event_type"]


def _tbl(df):
    """Key by (series, bucket); round float aggregates -- full vs incremental
    aggregation trees differ in partial-sum order (~1e-12 relative)."""
    rows = df.collect()
    out = {}
    for r in rows:
        key = (r["user_id"], r["event_type"], r["bucket"])
        assert key not in out
        out[key] = (
            round(r["twmean"], 6),
            r["vmin"],
            r["vmax"],
            round(r["integral_s"], 4),
            r["support_ms"],
        )
    return out


class TestPages:
    def test_deterministic_and_byte_identical(self, spark):
        p1 = pages_table(spark, n_urls=20, snapshots_per_url=6).orderBy("url", "warc_ts")
        p2 = pages_table(spark, n_urls=20, snapshots_per_url=6).repartition(7).orderBy(
            "url", "warc_ts"
        )
        r1, r2 = p1.collect(), p2.collect()
        assert len(r1) == len(r2) > 50
        assert r1 == r2  # identical across partitionings/runs
        for row in r1[:40]:
            # per-row invariant: text is the byte-stable extraction of html
            assert extract_text_py(bytes(row["html"])) == row["text"]
        # strictly increasing warc_ts per url
        by_url = {}
        for row in r1:
            by_url.setdefault(row["url"], []).append(row["warc_ts"])
        for ts_list in by_url.values():
            assert all(a < b for a, b in zip(ts_list, ts_list[1:]))

    def test_domain_skew_exists(self, spark):
        p = pages_table(spark, n_urls=200, snapshots_per_url=4)
        counts = (
            p.select(F.regexp_extract("url", r"site(\d+)", 1).alias("d"))
            .groupBy("d").count().collect()
        )
        sizes = sorted((r["count"] for r in counts), reverse=True)
        assert sizes[0] > 3 * sizes[-1]  # hot domain


class TestTiers:
    def test_incremental_equals_full(self, spark, tmp_path):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        entries = derive_entries(ev, KEYS, ts_col="ts", value_col="value").cache()
        cut = entries.approxQuantile("ts", [0.6], 0.01)[0]

        full = TierPipeline(str(tmp_path / "full"), KEYS)
        full.update(entries, run_id="full")

        inc = TierPipeline(str(tmp_path / "inc"), KEYS)
        lineage1 = inc.update(entries.filter(F.col("ts") <= cut), run_id="r1")
        lineage2 = inc.update(entries, run_id="r2")
        assert lineage1["rows_in"] > 0 and lineage2["rows_in"] > 0

        for tier in ("1m", "1h", "1d"):
            a = _tbl(full.read_tier(spark, tier))
            b = _tbl(inc.read_tier(spark, tier))
            assert a == b, f"tier {tier} diverged"

        ckpt = inc.read_checkpoint()
        assert ckpt["watermarks"], "per-salt watermarks must be set"
        assert all(isinstance(v, int) for v in ckpt["watermarks"].values())
        assert [r["run_id"] for r in ckpt["runs"]] == ["r1", "r2"]
        # per-(day, salt) partition lineage: one metrics row per output
        # partition per tier per run, each with row/byte counts
        metrics = spark.read.parquet(inc.metrics_path)
        assert {r["tier"] for r in metrics.collect()} == {"1m", "1h", "1d"}
        assert metrics.filter("rows <= 0 or bytes_approx <= 0").count() == 0
        n_parts = sum(
            len(t["partitions"]) for t in lineage2["tiers"].values()
        )
        assert metrics.filter(metrics.run_id == "r2").count() == n_parts
        entries.unpersist()

    def test_rerun_idempotent(self, spark, tmp_path):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        entries = derive_entries(ev, KEYS, ts_col="ts", value_col="value")
        tp = TierPipeline(str(tmp_path / "t"), KEYS)
        tp.update(entries, run_id="a")
        before = _tbl(tp.read_tier(spark, "1h"))
        # simulate a crash-rerun: same input again (watermark already set)
        tp.update(entries, run_id="a-retry")
        after = _tbl(tp.read_tier(spark, "1h"))
        assert before == after


class TestDfsSchemePaths:
    """Checkpoint state must survive on a scheme'd (DFS-style) base
    dir: a ``file://`` URI routes through the Hadoop FileSystem API, the
    same code path hdfs:// / s3a:// would take on a cluster."""

    def test_tier_pipeline_checkpoint_on_scheme_path(self, spark, tmp_path):
        base = "file://" + str(tmp_path / "dfs_tiers")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ents = derive_entries(ev, KEYS, ts_col="ts", value_col="value")
        tp = TierPipeline(base, KEYS)
        tp.update(ents)
        # fresh object reads the committed checkpoint through Hadoop FS
        tp2 = TierPipeline(base, KEYS)
        ckpt = tp2.read_checkpoint()
        assert ckpt["watermarks"] and len(ckpt["runs"]) == 1
        # incremental no-new-data run commits a second lineage record
        rec = tp2.update(ents.filter(F.lit(False)))
        assert rec["rows_in"] == 0
        assert len(tp2.read_checkpoint()["runs"]) == 2


class TestStateIOCrashRecovery:
    """A driver crash between the Hadoop delete and rename leaves only
    <path>.tmp; read_json_state must return a complete tmp (WITHOUT
    writing on the read path, ADVICE r3) and ignore a torn one
    (plans/stateio.py module docstring)."""

    def test_complete_tmp_returned_readonly(self, tmp_path):
        from scala_timeseries_lib_spark.plans.stateio import StateIO

        io = StateIO()
        target = str(tmp_path / "ckpt.json")
        with open(target + ".tmp", "w") as fh:
            fh.write('{"watermarks": {"0": 42}, "runs": []}')
        state = io.read_json_state(target)
        assert state == {"watermarks": {"0": 42}, "runs": []}
        # read-only recovery: the target is NOT materialized by a read
        assert not os.path.exists(target)
        assert os.path.exists(target + ".tmp")

    def test_delete_state_removes_stale_tmp(self, tmp_path):
        # an intentional reset must not be resurrected by a stale tmp
        from scala_timeseries_lib_spark.plans.stateio import StateIO

        io = StateIO()
        target = str(tmp_path / "ckpt.json")
        with open(target, "w") as fh:
            fh.write('{"epoch": 7}')
        with open(target + ".tmp", "w") as fh:
            fh.write('{"epoch": 6}')
        io.delete_state(target)
        assert io.read_json_state(target) is None

    def test_torn_tmp_ignored(self, tmp_path):
        from scala_timeseries_lib_spark.plans.stateio import StateIO

        io = StateIO()
        target = str(tmp_path / "ckpt.json")
        with open(target + ".tmp", "w") as fh:
            fh.write('{"watermarks": {"0":')  # torn mid-write
        assert io.read_json_state(target) is None

    def test_committed_state_wins_over_tmp(self, tmp_path):
        from scala_timeseries_lib_spark.plans.stateio import StateIO

        io = StateIO()
        target = str(tmp_path / "ckpt.json")
        with open(target, "w") as fh:
            fh.write('{"epoch": 7}')
        with open(target + ".tmp", "w") as fh:
            fh.write('{"epoch": 6}')
        assert io.read_json_state(target) == {"epoch": 7}

    def test_pipeline_recovers_crashed_checkpoint_commit(self, spark, tmp_path):
        base = str(tmp_path / "tiers_crash")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ents = derive_entries(ev, KEYS, ts_col="ts", value_col="value")
        tp = TierPipeline(base, KEYS)
        tp.update(ents)
        ckpt = tp.read_checkpoint()
        # simulate the crash window: checkpoint deleted, tmp left behind
        os.rename(tp.checkpoint_path, tp.checkpoint_path + ".tmp")
        tp2 = TierPipeline(base, KEYS)
        recovered = tp2.read_checkpoint()
        assert recovered["watermarks"] == ckpt["watermarks"]
        assert len(recovered["runs"]) == len(ckpt["runs"])
