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


class TestStreamRollup:
    """Watermarked streaming rollup vs the batch rollup over in-watermark
    rows: closed buckets emit once (append mode), late rows are dropped by
    the engine, open buckets stay in state."""

    def _run(self, spark, src, ckpt, out, step, wm):
        from scala_timeseries_lib_spark.streaming.structured import stream_rollup

        stream = spark.readStream.schema(SCHEMA).parquet(src)
        rolled = stream_rollup(stream, ["key"], step_ms=step, watermark_ms=wm)
        q = (
            rolled.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_two_batches_watermark_and_late_drop(self, spark, tmp_path):
        from scala_timeseries_lib_spark.operators.series_ops import (
            rollup_time_weighted,
        )

        src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
        os.makedirs(src, exist_ok=True)
        step, wm = 1000, 500

        b1 = [
            ("k1", 1000, 1.0, 300),
            ("k1", 1800, 4.0, 400),   # straddles the 2000 boundary -> split
            ("k1", 2500, 2.0, 400),
        ]
        b2 = [
            ("k1", 900, 9.0, 50),     # event 900 < watermark 2000 -> dropped
            ("k1", 3200, 5.0, 300),   # open bucket, stays in state
            ("k1", 4100, 6.0, 100),   # advances watermark to 3600
        ]
        spark.createDataFrame(b1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
        self._run(spark, src, ckpt, out, step, wm)
        spark.createDataFrame(b2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
        self._run(spark, src, ckpt, out, step, wm)

        got = {
            r["bucket"]: (round(r["twmean"], 6), r["vmin"], r["vmax"],
                          round(r["integral_s"], 6), r["support_ms"],
                          r["n_pieces"])
            for r in spark.read.parquet(out).collect()
        }
        # final watermark 4100-500=3600: buckets whose END <= 3600 have
        # emitted ([1000,2000) and [2000,3000)); [3000,4000) is still open
        assert set(got) == {1000, 2000}

        kept = [r for r in b1 + b2 if r[1] != 900]  # engine dropped the late row
        batch = rollup_time_weighted(
            spark.createDataFrame(kept, SCHEMA), ["key"], step
        )
        want = {
            r["bucket"]: (round(r["twmean"], 6), r["vmin"], r["vmax"],
                          round(r["integral_s"], 6), r["support_ms"],
                          r["n_pieces"])
            for r in batch.collect()
            if r["bucket"] in got
        }
        assert got == want
        # each closed bucket emitted exactly once
        assert spark.read.parquet(out).count() == len(got)


    def test_late_within_watermark_reopens_bucket(self, spark, tmp_path):
        """The late-data contract (VERDICT r2 #8): a row that is LATE in
        arrival order but still >= the current watermark re-opens (extends)
        its bucket's state, and the bucket emits ONCE with the late row
        folded in -- equal to the batch rollup over everything kept. Rows
        strictly below the watermark are dropped by the engine; the
        reference's TimestampValidator (TimestampValidator.scala:89-94)
        instead REJECTS out-of-order appends outright -- the streaming tier
        trades that hard reject for watermark-bounded completeness, which
        is the documented divergence."""
        from scala_timeseries_lib_spark.operators.series_ops import (
            rollup_time_weighted,
        )

        src, ckpt, out = (str(tmp_path / d) for d in ("src2", "ckpt2", "out2"))
        os.makedirs(src, exist_ok=True)
        step, wm = 1000, 2000  # generous watermark: late rows stay in-scope

        b1 = [
            ("k1", 1000, 1.0, 500),
            ("k1", 3000, 3.0, 500),   # watermark after b1: 3000-2000=1000
        ]
        b2 = [
            # late arrival into the [1000,2000) bucket, but event time 1500
            # >= watermark 1000 -> must be folded into the open state
            ("k1", 1500, 5.0, 250),
            ("k1", 5000, 7.0, 100),   # advances watermark to 3000
        ]
        b3 = [
            ("k1", 7000, 9.0, 100),   # advances watermark to 5000: closes more
        ]
        for batch in (b1, b2, b3):
            spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            self._run(spark, src, ckpt, out, step, wm)

        got = {
            r["bucket"]: (round(r["twmean"], 6), r["vmin"], r["vmax"],
                          r["support_ms"], r["n_pieces"])
            for r in spark.read.parquet(out).collect()
        }
        # nothing was below the watermark at its arrival time: every row kept
        batch_all = rollup_time_weighted(
            spark.createDataFrame(b1 + b2 + b3, SCHEMA), ["key"], step,
            disjoint=False,
        )
        want = {
            r["bucket"]: (round(r["twmean"], 6), r["vmin"], r["vmax"],
                          r["support_ms"], r["n_pieces"])
            for r in batch_all.collect()
            if r["bucket"] in got
        }
        assert got == want
        # the late row IS in the emitted [1000,2000) bucket (n_pieces == 2)
        assert got[1000][4] == 2
        assert got[1000][2] == 5.0  # vmax from the late row
        # closed-once contract holds even with the re-opened bucket
        assert spark.read.parquet(out).count() == len(got)


class TestStreamExactDedup:
    def test_duplicates_within_watermark_dropped(self, spark, tmp_path):
        from scala_timeseries_lib_spark.streaming.structured import (
            stream_exact_dedup,
        )

        schema = "doc_id long, ts long, text string"
        src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
        os.makedirs(src, exist_ok=True)

        def run():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                stream_exact_dedup(stream, watermark_ms=60_000)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        b1 = [(1, 1_000, "alpha"), (2, 2_000, "beta"), (3, 3_000, "alpha")]
        b2 = [(4, 10_000, "alpha"), (5, 11_000, "gamma")]
        spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
        run()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
        run()

        rows = spark.read.parquet(out).collect()
        texts = sorted(r["text"] for r in rows)
        assert texts == ["alpha", "beta", "gamma"]
        # the surviving alpha is the FIRST sighting
        assert [r["doc_id"] for r in rows if r["text"] == "alpha"] == [1]
