"""TierPipeline plan choice and lineage.

- The finest tier is built by the single explode + aggregate below
  ``SPLIT_MIN_PIECES`` and by the full/partial split at or above it; both
  plans must write the same tiers, cold and incremental, and the choice is
  logged as one decision record.
- Lineage is read from the committed files: per partition, ``rows`` equals a
  read-back count and ``bytes_approx`` the summed part-file sizes, and the
  ``_metrics`` side table holds exactly the lineage partitions of each run.
- Every coarser tier reaggregates the stored finer tier, so no update
  persists or caches a frame.
- A cold and an incremental update each stay within a fixed number of Spark
  jobs.
"""

import logging
import os

import pytest
from pyspark.sql import functions as F

from scala_timeseries_lib_spark.operators.entries import derive_entries
from scala_timeseries_lib_spark.plans import tiers
from scala_timeseries_lib_spark.plans.tiers import TierPipeline

pytestmark = pytest.mark.spark

KEYS = ["user_id", "event_type"]
EXACT = ["user_id", "event_type", "bucket", "vmin", "vmax", "support_ms", "n_pieces"]
FLOATS = ["twmean", "integral_s"]
EVENTS = "/root/testdata/sf0.001/events.parquet"

# Spark jobs of one cold update of sf0.001 on local[4]: the stats aggregate,
# the three tier writes (with their AQE shuffle-stage jobs; the 1h and 1d
# writes read the stored finer tier back with its known schema) and the
# metrics append -- 13 (the split plan with per-tier count jobs ran 22). A
# re-added count job, a schema-inference job on a read-back, or a second
# finest-tier branch exceeds it.
MAX_COLD_UPDATE_JOBS = 13
# The same jobs for an incremental update over a stored first run: 13.
# Reading the finer tier back without its schema adds one inference job per
# coarser tier (15).
MAX_INCREMENTAL_UPDATE_JOBS = 13


@pytest.fixture(scope="module")
def entries(spark):
    # not cached: a cached copy would stand in for the job-count tests'
    # own derivation and change their counts with the test order
    ev = spark.read.parquet(EVENTS)
    return derive_entries(ev, KEYS, ts_col="ts", value_col="value")


def _cut(entries):
    return entries.approxQuantile("ts", [0.6], 0.01)[0]


def _local(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def _tier_rows(tp, spark, name):
    return {
        tuple(r[c] for c in EXACT): tuple(r[c] for c in FLOATS)
        for r in tp.read_tier(spark, name).collect()
    }


def _assert_same_tiers(a, b, spark):
    for name in a.steps:
        ra, rb = _tier_rows(a, spark, name), _tier_rows(b, spark, name)
        assert ra.keys() == rb.keys(), f"tier {name}: exact columns differ"
        for k, fa in ra.items():
            for x, y in zip(fa, rb[k]):
                assert abs(x - y) <= 1e-9 * max(1.0, abs(y)), (name, k, fa, rb[k])


def _disk_partitions(path: str) -> dict:
    """(p_day, p_salt) -> summed data-file bytes, from the local FS."""
    out = {}
    root = _local(path)
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root).split(os.sep)
        if len(rel) != 2:
            continue
        key = tuple(int(p.split("=", 1)[1]) for p in rel)
        size = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files
            if not f.startswith(("_", "."))
        )
        if size:
            out[key] = size
    return out


def _assert_lineage_exact(tp, spark, rec, window):
    """``window(tier, p_day, p_salt)``: the partitions the run rewrote."""
    for name, t in rec["tiers"].items():
        counts = {
            (r["p_day"], r["p_salt"]): r["count"]
            for r in spark.read.parquet(t["path"])
            .groupBy("p_day", "p_salt").count().collect()
        }
        disk = _disk_partitions(t["path"])
        got = {(p["p_day"], p["p_salt"]): p for p in t["partitions"]}
        assert set(got) == {k for k in disk if window(name, *k)}, name
        assert got, name
        for k, p in got.items():
            assert p["rows"] == counts[k], (name, k)
            assert p["bytes_approx"] == disk[k], (name, k)
        assert t["points"] == sum(p["rows"] for p in got.values())
    metrics = {
        (r["tier"], r["p_day"], r["p_salt"], r["rows"], r["bytes_approx"])
        for r in spark.read.parquet(tp.metrics_path)
        .filter(F.col("run_id") == rec["run_id"]).collect()
    }
    assert metrics == {
        (name, p["p_day"], p["p_salt"], p["rows"], p["bytes_approx"])
        for name, t in rec["tiers"].items()
        for p in t["partitions"]
    }


class TestLineage:
    @pytest.mark.parametrize("scheme", ["", "file://"])
    def test_cold_run(self, spark, entries, tmp_path, scheme):
        tp = TierPipeline(scheme + str(tmp_path / "t"), KEYS)
        rec = tp.update(entries, run_id="cold")
        _assert_lineage_exact(tp, spark, rec, lambda *_: True)

    def test_incremental_run(self, spark, entries, tmp_path):
        tp = TierPipeline(str(tmp_path / "t"), KEYS)
        tp.update(entries.filter(F.col("ts") <= _cut(entries)), run_id="r1")
        wms = tp.read_checkpoint()["watermarks"]
        max_step = max(tp.steps.values())
        rec = tp.update(entries, run_id="r2")

        def window(name, p_day, p_salt):
            # the rewrite window: one max_step of overlap below the salt's
            # watermark, aligned down to the tier's partition width
            wm = wms.get(str(p_salt))
            if wm is None:
                return True
            cf = wm - wm % max_step - max_step
            return p_day >= cf - cf % tp._part_step(name)

        _assert_lineage_exact(tp, spark, rec, window)
        # the window is a strict part of the table
        disk = _disk_partitions(rec["tiers"]["1m"]["path"])
        assert len(rec["tiers"]["1m"]["partitions"]) < len(disk)


class TestFinestPlan:
    @pytest.mark.parametrize("incremental", [False, True])
    def test_both_plans_write_same_tiers(
        self, spark, entries, tmp_path, monkeypatch, incremental
    ):
        def build(split_min, name):
            monkeypatch.setattr(tiers, "SPLIT_MIN_PIECES", split_min)
            tp = TierPipeline(str(tmp_path / name), KEYS)
            if incremental:
                tp.update(entries.filter(F.col("ts") <= _cut(entries)))
            tp.update(entries)
            return tp

        split = build(0, "split")
        single = build(1 << 62, "single")
        _assert_same_tiers(split, single, spark)

    # None: the module default (1M), which sf0.001 stays below
    @pytest.mark.parametrize(
        "split_min,plan", [(0, "split"), (1 << 62, "single"), (None, "single")]
    )
    def test_decision_record(
        self, spark, entries, tmp_path, monkeypatch, caplog, split_min, plan
    ):
        if split_min is not None:
            monkeypatch.setattr(tiers, "SPLIT_MIN_PIECES", split_min)
        with caplog.at_level(logging.INFO, logger="scala_timeseries_lib_spark"):
            TierPipeline(str(tmp_path / "t"), KEYS).update(entries)
        recs = [r for r in caplog.records if getattr(r, "op", None) == "tiers.finest_plan"]
        assert len(recs) == 1
        r = recs[0]
        assert r.name == "scala_timeseries_lib_spark" and r.levelno == logging.INFO
        assert r.decision == plan
        bound = r.inputs["pieces_bound"]
        assert bound > r.inputs["rows_in"] > 0
        assert r.inputs["split_min_pieces"] == tiers.SPLIT_MIN_PIECES
        assert plan in r.getMessage() and str(bound) in r.getMessage()
        if split_min is None:
            assert tiers.SPLIT_MIN_PIECES == 1_000_000


def test_cold_update_job_count(spark, tmp_path):
    ev = spark.read.parquet(EVENTS)
    ents = derive_entries(ev, KEYS, ts_col="ts", value_col="value")
    sc = spark.sparkContext
    group = f"tier-job-guard-{os.getpid()}"
    sc.setJobGroup(group, "cold TierPipeline.update")
    try:
        TierPipeline(str(tmp_path / "t"), KEYS).update(ents)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MAX_COLD_UPDATE_JOBS, len(jobs)


@pytest.mark.parametrize("incremental", [False, True])
@pytest.mark.parametrize("split_min", [0, 1 << 62], ids=["split", "single"])
def test_update_persists_nothing(
    spark, entries, tmp_path, monkeypatch, incremental, split_min
):
    def refuse(self, *args, **kwargs):
        raise AssertionError("TierPipeline.update persisted a frame")

    monkeypatch.setattr(tiers, "SPLIT_MIN_PIECES", split_min)
    # the session's concrete DataFrame class (pyspark 4 subclasses the API)
    frame = type(entries)
    monkeypatch.setattr(frame, "persist", refuse)
    monkeypatch.setattr(frame, "cache", refuse)
    tp = TierPipeline(str(tmp_path / "t"), KEYS)
    if incremental:
        tp.update(entries.filter(F.col("ts") <= _cut(entries)))
    rec = tp.update(entries)
    assert all(t["points"] > 0 for t in rec["tiers"].values())


def test_incremental_update_job_count(spark, tmp_path):
    ev = spark.read.parquet(EVENTS)
    ents = derive_entries(ev, KEYS, ts_col="ts", value_col="value")
    tp = TierPipeline(str(tmp_path / "t"), KEYS)
    tp.update(ents.filter(F.col("ts") <= _cut(ents)))
    sc = spark.sparkContext
    group = f"tier-job-guard-incr-{os.getpid()}"
    sc.setJobGroup(group, "incremental TierPipeline.update")
    try:
        tp.update(ents)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MAX_INCREMENTAL_UPDATE_JOBS, len(jobs)
