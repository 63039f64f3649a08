"""tsbench: the repository benchmark for the time-series engine.

    python3 tsbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in a fresh Spark session on ``local[<cores>]`` (the
library's ``get_spark`` with its own defaults), checks every output against
a DuckDB oracle, and prints a human-readable report followed by one JSON
line ``{"correct", "attempted", "failed", "metrics"}``. Every run measures
one pass of fixed work, sized to take about ``--seconds``, which is
recorded but does not change the work. With ``--trace 0``
the metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones, read from spans and Spark's event
log. Inputs are generated from the seed and cached per seed; everything is
written under ``.tsbench/`` in the checkout. Exits non-zero when an output
is wrong or an operation fails, and without a result when the package is
missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".tsbench")

# session starts per run; the median is setup_s (the first also launches the
# JVM, so the median is that of the restarts)
SETUP_REPS = 4

# bounded end-to-end metrics: session set-up (wall), and the CPU seconds
# (JVM + Python worker tree) of the run's one measured pass, the first after
# set-up, as a spark-submit job runs it. On a shared VM the hypervisor's
# steal time swings wall clock between minutes; CPU time excludes it. The
# pass's wall time, per-operation times and peak RSS are in the run report.
E2E = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}


def parse_args(argv):
    from tsbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_program() -> None:
    """Fail fast, before any process starts, when the library is absent."""
    try:
        import __spark_entry__  # noqa: F401
        import scala_timeseries_lib_spark.plans.session  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as exc:
        print(f"tsbench: the program under test is not importable: {exc}", file=sys.stderr)
        raise SystemExit(2) from exc


def session_conf(run_dir: str, trace: bool) -> dict:
    """Keeps every file Spark writes inside the run dir; the traced run
    turns on the uncompressed event log (no zstandard module is needed to
    read it)."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    return conf


def start_sessions(master: str, conf: dict, warm_events: str):
    """``SETUP_REPS`` session starts, each followed by the warm-up: the
    entries of the sf0.001-sized events table, derived into the noop sink;
    returns the last session and the timings."""
    from scala_timeseries_lib_spark.operators.entries import derive_entries
    from scala_timeseries_lib_spark.plans.session import get_spark

    spark, setups, starts, warmups = None, [], [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(master=master, extra_conf=conf)
        t1 = time.perf_counter()
        derive_entries(spark.read.parquet(warm_events), ["user_id", "event_type"]) \
            .write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        setups.append(t2 - t0)
        starts.append(t1 - t0)
        warmups.append(t2 - t1)
    return spark, {"setup_s": setups, "start_s": starts, "warmup_s": warmups}


def stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(run, setup: dict) -> dict:
    values = {
        "setup_s": statistics.median(setup["setup_s"]),
        "pass_cpu_s": run.pass_cpu_s,
    }
    return {k: {"value": v, "unit": E2E[k]} for k, v in values.items() if v is not None}


def human_report(args, master, run, setup, probes, gen_s, metrics, layer_notes) -> None:
    print(f"tsbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} master={master}")
    print("inputs: " + " ".join(f"{k}={v}" for k, v in sorted(run.counts.items()))
          + f" (ready in {gen_s:.2f} s)")
    print(f"box probe before: {probes[0]}")
    print(f"box probe after:  {probes[1]}")
    print("ops: " + " ".join(f"{k}={v:.3f}" for k, v in run.ops.items()))
    for name, (value, unit) in sorted(run.report.items()):
        print(f"  {name:32s} {value:14.4f} {unit}")
    print(f"  {'session_start_s (first, with JVM)':32s} {setup['start_s'][0]:14.4f} s")
    ratio = run.failed / max(run.attempted, 1)
    print(f"  {'failed_ratio':32s} {ratio:14.4f} ratio ({run.failed}/{run.attempted})")
    for f in run.failures:
        print(f"  FAILED {f}")
    for name, m in metrics.items():
        note = layer_notes.get(name, "")
        print(f"  {name:32s} {m['value']:14.4f} {m['unit']}{'  ' + note if note else ''}")


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    check_program()

    from tsbench import procs

    procs.become_subreaper()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # temp files of this process, Spark's Python workers and every JVM
    # (the spark-submit launcher included) stay in the run dir
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    from tsbench import gen, layers, oracle, procs
    from tsbench.trace import Tracer
    from tsbench.workloads import WORKLOADS, Run

    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    t0 = time.perf_counter()
    inputs = gen.generate(args.workload, args.seed, os.path.join(WORK, "cache"))
    gen_s = time.perf_counter() - t0
    con = oracle.connect(run_dir)

    probe_before = procs.cpu_probe(cores)
    tracer = Tracer(bool(args.trace), args.workload)
    spark = None
    try:
        with procs.PeakRss() as rss:
            spark, setup = start_sessions(
                master, session_conf(run_dir, bool(args.trace)),
                os.path.join(inputs["dir"], "warmup", "events.parquet"))
            app_id = spark.sparkContext.applicationId
            tracer.bind(spark)
            tracer.install()
            run = Run(spark, tracer, inputs, run_dir, con)
            WORKLOADS[args.workload](run)
            stop_jvm(spark)
            spark = None
        run.report["peak_rss_mb"] = (rss.peak / (1 << 20), "MiB")
        run.report["pass_wall_s"] = (run.pass_s, "s")
    finally:
        if spark is not None:
            stop_jvm(spark)
        procs.reap()
        con.close()
    probe_after = procs.cpu_probe(cores)

    layer_notes: dict = {}
    spans_table: list = []
    if args.trace:
        metrics, layer_notes, spans_table = layers.compute(
            tracer, os.path.join(run_dir, "eventlog", f"eventlog_v2_{app_id}"),
            run, setup, cores)
    else:
        metrics = end_to_end(run, setup)

    human_report(args, master, run, setup, (probe_before, probe_after), gen_s,
                 metrics, layer_notes)
    correct = run.failed == 0
    result = {"correct": correct, "attempted": run.attempted, "failed": run.failed,
              "metrics": metrics}
    record = dict(result, workload=args.workload, seed=args.seed, trace=args.trace,
                  seconds=args.seconds, master=master, counts=run.counts,
                  report={k: {"value": v, "unit": u} for k, (v, u) in run.report.items()},
                  setup=setup, pass_s=run.pass_s, pass_cpu_s=run.pass_cpu_s, ops=run.ops,
                  probe_before=probe_before,
                  probe_after=probe_after, failures=run.failures,
                  notes=layer_notes, self_times=spans_table)
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        layers.write_report(stem, record, results_dir)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
