"""Per-layer metrics of a traced run, and the per-workload layer report.

Every metric is reported on every workload; where a layer does not run on
the workload the value is 0 and the note says so, and where the event log
does not carry a figure the note says that instead. Figures are over the
run's one measured pass unless stated.
"""

from __future__ import annotations

import json
import os
import statistics

from .trace import Attribution, EventLog, straggler_ratio
from .workloads import QUERY_NAMES

WINDOW_QUERIES = ["ts_sliding_integral_1h", "ts_sample_closest"]
PY_NODES = ("FlatMapGroupsInPandas", "MapInPandas")
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"

# name -> (unit, layer, the end-to-end metric it should move and where)
PER_LAYER = {
    "session.start_s": ("s", "plans.session", "setup_s on every workload"),
    "session.warmup_s": ("s", "plans.session", "setup_s on every workload"),
    "spark.jobs": ("count", "Spark execution", "pass_cpu_s on both workloads"),
    "spark.tasks": ("count", "Spark execution", "pass_cpu_s on both workloads"),
    "spark.executor_run_s": ("s", "Spark execution", "pass_cpu_s on both workloads"),
    "spark.executor_cpu_s": ("s", "Spark execution", "pass_cpu_s on both workloads"),
    "spark.gc_s": ("s", "Spark execution", "pass_cpu_s on both workloads"),
    "spark.busy_share": ("ratio", "Spark execution", "pass_cpu_s and the pass wall time on both workloads: a low share means per-job overhead dominates"),
    "spark.shuffle_write_bytes": ("B", "Spark execution", "pass_cpu_s on both workloads"),
    "spark.shuffle_fetch_wait_s": ("s", "Spark execution", "pass_cpu_s on both workloads"),
    "spark.spill_bytes": ("B", "Spark execution", "pass_cpu_s on tier_maintain"),
    "spark.peak_jvm_heap_mb": ("MiB", "Spark execution", "process.peak_rss_mb on both workloads"),
    "process.peak_rss_mb": ("MiB", "JVM + Python workers", "the memory a user provisions; not bounded (see CHANGES.md)"),
    **{f"query.{q}.{part}_s": ("s", "query planning" if part == "construct" else "Spark execution",
                               "pass_cpu_s on query_mix")
       for q in QUERY_NAMES for part in ("construct", "run")},
    "entries.rows": ("count", "operators.entries", "pass_cpu_s on both workloads"),
    "entries.sort_s": ("s", "operators.entries", "pass_cpu_s on both workloads"),
    "entries.exchange_bytes": ("B", "operators.entries", "pass_cpu_s on both workloads"),
    "rollup.pieces": ("count", "operators.series_ops", "pass_cpu_s on tier_maintain"),
    "rollup.agg_build_s": ("s", "operators.series_ops", "pass_cpu_s on tier_maintain"),
    "rollup.spill_bytes": ("B", "operators.series_ops", "pass_cpu_s on tier_maintain"),
    "tiers.build.jobs": ("count", "plans.tiers", "pass_cpu_s on tier_maintain"),
    "tiers.build.nonwrite_jobs_s": ("s", "plans.tiers", "pass_cpu_s on tier_maintain"),
    "storage.write_s": ("s", "plans.storage", "pass_cpu_s on tier_maintain"),
    "storage.files_written": ("count", "plans.storage", "pass_cpu_s on tier_maintain"),
    "storage.partitions_written": ("count", "plans.storage", "pass_cpu_s on tier_maintain"),
    "storage.bytes_written": ("B", "plans.storage", "pass_cpu_s on tier_maintain"),
    "stateio.commit_s": ("s", "plans.stateio", "pass_cpu_s on tier_maintain"),
    "merge.construct_s": ("s", "operators.merge", "pass_cpu_s on query_mix"),
    "merge.guard_jobs": ("count", "operators.merge", "pass_cpu_s on query_mix"),
    "merge.shuffle_bytes": ("B", "operators.merge", "pass_cpu_s on query_mix"),
    "merge.straggler_ratio": ("ratio", "operators.merge", "pass_cpu_s on query_mix"),
    "window.sort_s": ("s", "operators.window", "pass_cpu_s on query_mix"),
    "kernel.python_s": ("s", "operators._kernel + kernel.*", "pass_cpu_s on query_mix; none on tier_maintain"),
    "kernel.python_bytes_sent": ("B", "operators._kernel + kernel.*", "pass_cpu_s on query_mix"),
    "kernel.python_bytes_received": ("B", "operators._kernel + kernel.*", "pass_cpu_s on query_mix"),
    "kernel.tasks": ("count", "operators._kernel + kernel.*", "pass_cpu_s on query_mix"),
    "kernel.straggler_ratio": ("ratio", "operators._kernel + kernel.*", "pass_cpu_s on query_mix"),
    "blocks.write_s": ("s", "operators.blocks + kernel.gorilla", "pass_cpu_s on query_mix (archive ops)"),
    "blocks.read_s": ("s", "operators.blocks + kernel.gorilla", "pass_cpu_s on query_mix (archive ops)"),
    "blocks.count": ("count", "operators.blocks + kernel.gorilla", "pass_cpu_s on query_mix (archive ops)"),
    "blocks.range_blocks_read": ("count", "operators.blocks + kernel.gorilla", "pass_cpu_s on query_mix (archive range read)"),
    "blocks.bytes_written": ("B", "operators.blocks + kernel.gorilla", "pass_cpu_s on query_mix (archive ops)"),
    "trace.pass_s": ("s", "tracing", "the traced run's pass wall time; tracing overhead is measured by steady.py --traced"),
}


def compute(tracer, log_dir: str, run, setup: dict, cores: int):
    spans = tracer.spans
    log = EventLog(log_dir)
    at = Attribution(spans, log)
    notes: dict[str, str] = {}
    out: dict[str, float] = {}
    workload = tracer.workload

    the_pass = next(s for s in spans if s.name == "pass")
    pass_ids = at.subtree(the_pass.id)

    def in_pass(name):
        return [s for s in spans if s.name == name and s.id in pass_ids]

    def dur(name):
        return sum(s.dur for s in in_pass(name))

    def sql(name, node, metric):
        return sum(at.sql(at.subtree(s.id), node, metric) for s in in_pass(name))

    out["session.start_s"] = statistics.median(setup["start_s"])
    out["session.warmup_s"] = statistics.median(setup["warmup_s"])

    # Spark execution over the measured pass
    tasks = at.tasks(pass_ids)
    out["spark.jobs"] = float(len(at.jobs(pass_ids)))
    out["spark.tasks"] = float(len(tasks))
    out["spark.executor_run_s"] = sum(t["run_s"] for t in tasks)
    out["spark.executor_cpu_s"] = sum(t["cpu_s"] for t in tasks)
    out["spark.gc_s"] = sum(t["gc_s"] for t in tasks)
    out["spark.busy_share"] = out["spark.executor_run_s"] / (the_pass.dur * cores)
    out["spark.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in tasks)
    out["spark.shuffle_fetch_wait_s"] = sum(t["fetch_wait_s"] for t in tasks)
    out["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    heap = max((t["heap"] for t in log.tasks), default=0)
    out["spark.peak_jvm_heap_mb"] = heap / (1 << 20)
    if not heap:
        notes["spark.peak_jvm_heap_mb"] = "unavailable: no task carried executor heap metrics"

    # planning vs execution (collection to the driver included) per query
    for q in QUERY_NAMES:
        for part in ("construct", "run"):
            name = f"query.{q}.{part}_s"
            out[name] = dur(f"query.{q}.{part}")
            if workload != "query_mix":
                notes[name] = "n/a: query_mix only"

    # entries layer, isolated by the entries probe
    probe = at.ids(lambda s: s.name == "entries.probe")
    out["entries.rows"] = at.sql(probe, "Filter", "number of output rows")
    out["entries.sort_s"] = at.sql(probe, "Sort", "sort time") / 1000.0
    out["entries.exchange_bytes"] = at.sql(probe, "Exchange", "shuffle bytes written")

    # rollup operators inside the pass (the tier build, or the queries)
    out["rollup.pieces"] = at.sql(pass_ids, "Generate", "number of output rows")
    out["rollup.agg_build_s"] = at.sql(pass_ids, "HashAggregate", "time in aggregation build") / 1000.0
    out["rollup.spill_bytes"] = at.sql(pass_ids, "HashAggregate", "spill size")

    # tiers / storage / stateio, over the tier build
    builds = in_pass("tiers.update")
    build_ids = set().union(*(at.subtree(s.id) for s in builds)) if builds else set()
    write_ids = at.ids(lambda s: s.name.startswith(("storage.", "stateio.")) and s.id in build_ids)
    out["tiers.build.jobs"] = float(len(at.jobs(build_ids)))
    out["tiers.build.nonwrite_jobs_s"] = sum(
        (log.jobs[j]["end"] or log.jobs[j]["start"]) - log.jobs[j]["start"]
        for j in at.jobs(build_ids - write_ids))
    out["storage.write_s"] = dur("storage.overwrite_partitions")
    out["storage.files_written"] = sql("storage.overwrite_partitions", WRITE_NODE, "number of written files")
    out["storage.partitions_written"] = sql("storage.overwrite_partitions", WRITE_NODE, "number of dynamic part")
    out["storage.bytes_written"] = sql("storage.overwrite_partitions", WRITE_NODE, "written output")
    out["stateio.commit_s"] = dur("stateio.write_json_atomic")
    if workload != "tier_maintain":
        for k in out:
            if k.startswith(("tiers.", "storage.", "stateio.")):
                notes[k] = "n/a: tier_maintain only"

    # merge: construction (guard probes fire here) and the merge query's run
    merges = in_pass("merge.merge_series")
    out["merge.construct_s"] = sum(s.dur for s in merges)
    out["merge.guard_jobs"] = float(sum(len(at.jobs(at.subtree(s.id))) for s in merges))
    merge_tasks = [t for s in in_pass("query.ts_merge_plus.run") for t in at.tasks(at.subtree(s.id))]
    out["merge.shuffle_bytes"] = sum(t["shuffle_write"] for t in merge_tasks)
    out["merge.straggler_ratio"] = straggler_ratio(merge_tasks)
    if workload != "query_mix":
        for k in ("merge.construct_s", "merge.guard_jobs", "merge.shuffle_bytes", "merge.straggler_ratio"):
            notes[k] = "n/a: query_mix only"

    out["window.sort_s"] = sum(sql(f"query.{q}.run", "Sort", "sort time") for q in WINDOW_QUERIES) / 1000.0
    if workload != "query_mix":
        notes["window.sort_s"] = "n/a: query_mix only"

    # the Arrow/Python boundary
    py_accs = {a for a, (node, _m, _t) in log.acc_meta.items() if node.startswith(PY_NODES)}

    def py(metric):
        return sum(at.sql(pass_ids, node, metric) for node in PY_NODES)

    out["kernel.python_s"] = py("time to run Python workers") / 1000.0
    out["kernel.python_bytes_sent"] = py("data sent to Python workers")
    out["kernel.python_bytes_received"] = py("data returned from Python workers")
    py_tasks = [t for t in tasks if py_accs & t["sql"].keys()]
    out["kernel.tasks"] = float(len(py_tasks))
    out["kernel.straggler_ratio"] = straggler_ratio(py_tasks)
    if workload == "tier_maintain":
        for k in [k for k in out if k.startswith("kernel.")]:
            notes[k] = "n/a: tier_maintain runs no Python stage"

    # Gorilla archive ops (query_mix)
    out["blocks.write_s"] = dur("archive.write")
    out["blocks.read_s"] = dur("archive.read")
    out["blocks.count"] = float(run.counts.get("archive_blocks", 0))
    out["blocks.range_blocks_read"] = sql("archive.range_read", "Filter", "number of output rows")
    out["blocks.bytes_written"] = sql("archive.write", WRITE_NODE, "written output")
    if workload != "query_mix":
        for k in [k for k in out if k.startswith("blocks.")]:
            notes[k] = "n/a: query_mix only"

    out["process.peak_rss_mb"] = run.report["peak_rss_mb"][0]
    out["trace.pass_s"] = the_pass.dur
    metrics = {k: {"value": float(out[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    return metrics, notes, self_times(at)


def self_times(at: Attribution) -> list[dict]:
    """Calls, total and self time per span name, largest self time first."""
    rows: dict[str, dict] = {}
    for s in at.spans:
        r = rows.setdefault(s.name, {"span": s.name, "calls": 0, "total_s": 0.0, "self_s": 0.0})
        r["calls"] += 1
        r["total_s"] += s.dur
        r["self_s"] += at.self_time(s.id)
    return sorted(rows.values(), key=lambda r: -r["self_s"])


def write_report(stem: str, record: dict, results_dir: str) -> None:
    """``<stem>.md``: the per-layer table of a traced run, with the tracing
    overhead against the untraced run of the same workload and seed."""
    untraced_path = os.path.join(
        results_dir, f"{record['workload']}-seed{record['seed']}-trace0.json")
    lines = [f"# tsbench layers: {record['workload']} seed {record['seed']}", ""]
    if os.path.exists(untraced_path):
        with open(untraced_path) as fh:
            base = json.load(fh)
        lines += ["| end-to-end | untraced | traced | overhead |", "|---|---|---|---|"]
        traced = {"setup_s": statistics.median(record["setup"]["setup_s"]),
                  "pass_cpu_s": record["pass_cpu_s"]}
        for k, v in traced.items():
            b = base["metrics"].get(k, {}).get("value")
            if b and v:
                lines.append(f"| {k} | {b:.4f} s | {v:.4f} s | {100 * (v / b - 1):+.1f}% |")
    else:
        lines.append("tracing overhead: no untraced run of this workload and seed recorded; "
                     "run with --trace 0 first")
    lines += ["", "| metric | value | unit | layer | moves | note |", "|---|---|---|---|---|---|"]
    for k, m in record["metrics"].items():
        unit, layer, moves = PER_LAYER[k]
        lines.append(f"| {k} | {m['value']:.6g} | {unit} | {layer} | {moves} | "
                     f"{record['notes'].get(k, '')} |")
    if record.get("self_times"):
        lines += ["", "| span | calls | total s | self s |", "|---|---|---|---|"]
        for row in record["self_times"]:
            lines.append(f"| {row['span']} | {row['calls']} | {row['total_s']:.4f} | {row['self_s']:.4f} |")
    with open(stem + ".md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
