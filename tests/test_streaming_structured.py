"""Structured Streaming fitter (applyInPandasWithState) vs the batch kernel.

Two micro-batches are delivered through a file source with availableNow
triggers and a persistent checkpoint (a restart between them), and the
emitted finalized entries + the withheld pending entries must together equal
the one-shot batch fitter over all in-contract rows.
"""

import os

import pytest

from scala_timeseries_lib_spark.kernel.fitter import fit

pytestmark = pytest.mark.spark

SCHEMA = "key string, ts long, value double, validity long"

BATCH1 = [
    ("k1", 1000, 1.0, 500),
    ("k1", 2000, 1.0, 1000),    # contiguous equal value -> RLE-extends
    ("k1", 3000, 2.0, 10_000),  # overlaps the next batch's first -> trimmed
    ("k2", 1000, 5.0, 2000),
]
BATCH2 = [
    ("k1", 5000, 3.0, 1000),
    ("k2", 500, 7.0, 100),      # late vs pending ts 1000 -> dropped
    ("k2", 4000, 6.0, 1000),
]


def _run_available_now(spark, src_dir, ckpt_dir, out_dir):
    from scala_timeseries_lib_spark.streaming.structured import stream_fit_entries

    stream = (
        spark.readStream.schema(SCHEMA).parquet(src_dir)
    )
    fitted = stream_fit_entries(stream, ["key"])
    q = (
        fitted.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_two_batches_with_restart_match_batch_fitter(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src, exist_ok=True)

    spark.createDataFrame(BATCH1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run_available_now(spark, src, ckpt, out)
    spark.createDataFrame(BATCH2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run_available_now(spark, src, ckpt, out)

    emitted = {
        k: sorted(
            (r["ts"], r["value"], r["validity"])
            for r in spark.read.parquet(out).collect()
            if r["key"] == k
        )
        for k in ("k1", "k2")
    }

    # oracle: one-shot fit over all rows that respect the late-data contract
    # (k2's 500-ts row arrives after k2's pending ts 1000 -> dropped)
    in_contract = {
        "k1": [(1000, 1.0, 500), (2000, 1.0, 1000), (3000, 2.0, 10_000),
               (5000, 3.0, 1000)],
        "k2": [(1000, 5.0, 2000), (4000, 6.0, 1000)],
    }
    for k, rows in in_contract.items():
        expected = fit(sorted(rows), compress=True)
        # the per-series last entry is pending in the state store, not emitted
        assert emitted[k] == expected[:-1], k
