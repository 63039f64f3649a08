"""The benchmark workloads. Each one is a closed loop with one client: every
call waits for its result before the next is issued.

A run measures exactly one pass, the first after session set-up, whatever
``--seconds`` says: a fixed amount of work, so every run of a workload does
the same work and its figures compare across runs. The pass produces the
outputs that are then checked against the oracles. Everything goes through
the library's public entry points with its own defaults.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import pyarrow.parquet as pq

from . import gen, oracle
from .procs import tree_cpu_s

KEYS = oracle.KEYS
DAY_MS = oracle.DAY_MS

# the registry queries of query_mix: the read paths of the merge
# (ts_merge_plus), window (ts_sliding_integral_1h, ts_sample_closest),
# kernel (ts_sample_closest) and series_ops sampling (ts_fill_locf) layers;
# the rollup is tier_maintain's. Four of the registry's queries, not eight:
# a run must fit the benchmark's time budget next to the JVM's start.
QUERY_NAMES = ["ts_fill_locf", "ts_merge_plus", "ts_sliding_integral_1h", "ts_sample_closest"]


class Run:
    """State of one workload run: session, inputs, timings and failures."""

    def __init__(self, spark, tracer, inputs: dict, run_dir: str, con):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.run_dir = run_dir
        self.cache_dir = inputs["dir"]  # oracles are cached next to the inputs
        self.con = con
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: dict[str, float] = {}  # seconds per operation of the pass
        self.pass_s = None
        self.pass_cpu_s = None
        self.report: dict[str, tuple[float, str]] = {}  # named figures of the run report
        self.counts: dict[str, int] = dict(inputs["counts"])

    def op(self, name: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # the run reports failures, it does not stop
            self.failed += 1
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}".splitlines()[0])
            traceback.print_exc()
            return None, None
        dt = time.perf_counter() - t0
        self.ops[name] = dt
        return dt, out

    def check(self, name: str, result: tuple[bool, str]) -> None:
        """One oracle comparison; a mismatch counts as a failed operation."""
        self.attempted += 1
        ok, detail = result
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: oracle mismatch: {detail}")

    def measure(self, one_pass) -> None:
        """The run's one measured pass: its wall time and the CPU seconds of
        the JVM + Python worker tree."""
        self.tracer.pass_index = 0
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with self.tracer.span("pass"):
            one_pass()
        self.pass_s = time.perf_counter() - t0
        self.pass_cpu_s = tree_cpu_s() - c0
        self.tracer.pass_index = -1

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def entries_probe(self, events_path: str) -> None:
        """Traced runs only, after the measured pass (so a traced run does the
        same work as an untraced one up to the end of it): ``derive_entries``
        alone, so the entries layer's operators can be read from the event
        log in isolation."""
        if not self.tracer.enabled:
            return
        from scala_timeseries_lib_spark.operators.entries import derive_entries

        with self.tracer.span("entries.probe"):
            self.op("entries_probe", lambda: self.noop(
                derive_entries(self.spark.read.parquet(events_path), KEYS)))


def parquet_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of the parquet files under ``path``."""
    rows = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                rows += pq.ParquetFile(p).metadata.num_rows
                size += os.path.getsize(p)
    return rows, size


def tier_maintain(run: Run) -> None:
    """A cold ``TierPipeline.update`` of every day into a fresh store: the
    entries derived from the events table (the shape of
    ``jobs/rollup_job.py``), rolled up into the 1m/1h/1d tiers and written
    as parquet with checkpoint and lineage."""
    from scala_timeseries_lib_spark.operators.entries import derive_entries
    from scala_timeseries_lib_spark.plans.tiers import TierPipeline

    spark = run.spark
    events = os.path.join(run.inputs["dir"], "events.parquet")
    out = os.path.join(run.run_dir, "tiers")
    pipe = TierPipeline(out, KEYS)
    lineage = []

    def build():
        entries = derive_entries(spark.read.parquet(events), KEYS, ts_col="ts", value_col="value")
        lineage.append(pipe.update(entries))

    run.measure(lambda: run.op("tier_build", build))
    run.entries_probe(events)
    if lineage:
        points = sum(t["points"] for t in lineage[0]["tiers"].values())
        run.counts["tier_points"] = points
        run.report["tier_points_per_s"] = (points / run.ops["tier_build"], "points/s")

    points = size = 0
    for name in pipe.steps:
        r, b = parquet_stats(os.path.join(out, f"tier_{name}"))
        points, size = points + r, size + b
    run.counts["tier_points_stored"] = points
    if points:
        run.report["tier_bytes_per_point"] = (size / points, "B")

    oracle.use_events(run.con, [events])
    for step in ("1h", "1d"):
        want = oracle.cached(run.con, oracle.tier_sql(step),
                             os.path.join(run.cache_dir, f"oracle_tier_{step}.parquet"))
        got = oracle.read_parquet_dir(run.con, os.path.join(out, f"tier_{step}"))
        run.check(f"tier_{step}", oracle.compare_tier(got, want))


def query_mix(run: Run) -> None:
    """The registry queries, each collected to the driver, followed by the
    Gorilla archive round trip over a table of long series (the two share
    one Spark session, so the archive needs no run of its own):
    ``write_blocks`` (1-day buckets, <= 1000 entries per block) to parquet,
    a full ``read_blocks`` decode, and a one-day range read that prunes
    blocks before decoding."""
    queries, archive = _RegistryQueries(run), _Archive(run)

    def one_pass():
        queries.one_pass()
        archive.one_pass()

    run.measure(one_pass)
    queries.check()
    archive.check()
    run.entries_probe(os.path.join(run.inputs["dir"], "events.parquet"))
    queries.report()
    archive.report()


class _RegistryQueries:
    """The registry queries: run in the pass, then checked."""

    def __init__(self, run: Run):
        import __spark_entry__ as entry_mod

        self.run = run
        self.sf_dir = run.inputs["dir"]
        self.queries = entry_mod.queries()
        self.sqls = entry_mod.oracle_sql()
        self.got = {}

    def check(self) -> None:
        run = self.run
        oracle.use_events(run.con, [os.path.join(self.sf_dir, "events.parquet")])
        for name, got in self.got.items():
            want = oracle.cached(run.con, self.sqls[name],
                                 os.path.join(run.cache_dir, f"oracle_{name}.parquet"))
            run.check(name, oracle.compare_exact(got, want))
        self.got.clear()

    def one_pass(self) -> None:
        run, tr, spark = self.run, self.run.tracer, self.run.spark
        for name in QUERY_NAMES:
            def query(n=name):
                with tr.span(f"query.{n}"):
                    with tr.span(f"query.{n}.construct"):
                        df = self.queries[n](spark, self.sf_dir)
                    with tr.span(f"query.{n}.run"):
                        return df.toPandas()

            _dt, got = run.op(name, query)
            if got is not None:
                self.got[name] = got

    def report(self) -> None:
        run = self.run
        lat = [run.ops[n] for n in QUERY_NAMES if n in run.ops]
        if lat:
            run.report["query_pass_s"] = (sum(lat), "s")
            run.report["query_p50_s"] = (statistics.median(lat), "s")
            run.report["query_max_s"] = (max(lat), "s")


ARCHIVE_OPS = ("archive_write", "archive_read", "archive_range_read")


class _Archive:
    """The Gorilla archive round trip: run in the pass, then checked."""

    def __init__(self, run: Run):
        from scala_timeseries_lib_spark.operators.blocks import read_blocks, write_blocks

        self.run = run
        self.events_path = os.path.join(run.inputs["dir"], "archive", "events.parquet")
        self.entries_path = os.path.join(run.inputs["dir"], "archive", "entries.parquet")
        self.blocks_path = os.path.join(run.run_dir, "blocks")
        self.lo = gen.T0_MS + 30 * DAY_MS  # the middle day of the table
        self.write_blocks, self.read_blocks = write_blocks, read_blocks
        self.got = None
        self.entries = run.spark.read.parquet(self.entries_path)

    def _write(self) -> None:
        self.write_blocks(self.entries, KEYS).write.mode("overwrite").parquet(self.blocks_path)

    def _decoded(self, from_ts=None, to_ts=None):
        return self.read_blocks(self.run.spark.read.parquet(self.blocks_path), KEYS,
                                from_ts, to_ts)

    def one_pass(self) -> None:
        run, tr, lo = self.run, self.run.tracer, self.lo
        with tr.span("archive.write"):
            run.op("archive_write", self._write)
        with tr.span("archive.read"):
            _dt, self.got = run.op("archive_read", lambda: self._decoded().toPandas())
        with tr.span("archive.range_read"):
            run.op("archive_range_read", lambda: run.noop(self._decoded(lo, lo + DAY_MS)))

    def check(self) -> None:
        run = self.run
        oracle.use_events(run.con, [self.events_path])
        want = oracle.cached(run.con, oracle.archive_sql(),
                             os.path.join(run.cache_dir, "oracle_archive.parquet"))
        if self.got is not None:
            run.check("archive_decode", oracle.compare_exact(self.got, want))
        self.got = None

    def report(self) -> None:
        run = self.run
        n_entries = run.counts["archive_entries"]
        blocks, size = parquet_stats(self.blocks_path)
        run.counts["archive_blocks"] = blocks
        by = {k: run.ops[k] for k in ARCHIVE_OPS if k in run.ops}
        if "archive_write" in by:
            run.report["archive_write_entries_per_s"] = (n_entries / by["archive_write"], "entries/s")
        if "archive_read" in by:
            run.report["archive_read_entries_per_s"] = (n_entries / by["archive_read"], "entries/s")
        if "archive_range_read" in by:
            run.report["archive_range_read_s"] = (by["archive_range_read"], "s")
        if n_entries:
            run.report["archive_bytes_per_entry"] = (size / n_entries, "B")


WORKLOADS = {"tier_maintain": tier_maintain, "query_mix": query_mix}
