"""Traced runs: spans around the library's public entry points, read back
against Spark's uncompressed event log.

The spans are recorded from outside the package: :meth:`Tracer.install`
wraps the entry points listed in ``TARGETS`` by rebinding them in every
loaded module of the package (callers that imported a function by name see
the wrapper too). A span sets the Spark job description to its id, so every
job the wrapped call fires -- eager probes included -- carries the id in its
``JobStart`` properties and is attributed to the innermost open span.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

PKG = "scala_timeseries_lib_spark"
DESC_PREFIX = "tsbench:"

# (module, attribute, span name); "Class.method" patches the method
TARGETS = [
    (f"{PKG}.operators.entries", "derive_entries", "entries.derive_entries"),
    (f"{PKG}.operators.series_ops", "rollup_time_weighted", "rollup.rollup_time_weighted"),
    (f"{PKG}.operators.series_ops", "rollup_time_weighted_parts", "rollup.rollup_time_weighted_parts"),
    (f"{PKG}.operators.series_ops", "reaggregate_rollup", "rollup.reaggregate_rollup"),
    (f"{PKG}.operators.series_ops", "sample_strict_grid", "series.sample_strict_grid"),
    (f"{PKG}.operators.series_ops", "fill_gaps_locf", "series.fill_gaps_locf"),
    (f"{PKG}.operators.merge", "merge_series", "merge.merge_series"),
    (f"{PKG}.operators.window", "sliding_grid_agg", "window.sliding_grid_agg"),
    (f"{PKG}.operators.window", "sample_closest", "window.sample_closest"),
    (f"{PKG}.operators._kernel", "apply_per_bucket", "kernel.apply_per_bucket"),
    (f"{PKG}.operators.blocks", "write_blocks", "blocks.write_blocks"),
    (f"{PKG}.operators.blocks", "read_blocks", "blocks.read_blocks"),
    (f"{PKG}.plans.tiers", "TierPipeline.update", "tiers.update"),
    (f"{PKG}.plans.storage", "ParquetBackend.overwrite_partitions", "storage.overwrite_partitions"),
    (f"{PKG}.plans.stateio", "StateIO.write_json_atomic", "stateio.write_json_atomic"),
]


class Span:
    """name, start, end, parent span id, workload and pass; ``result`` keeps
    the return value of a wrapped ``TierPipeline.update`` (its lineage)."""

    def __init__(self, sid, name, parent, workload, pass_index):
        self.id, self.name, self.parent = sid, name, parent
        self.workload, self.pass_index = workload, pass_index
        self.start = time.perf_counter()
        self.end = None
        self.result = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With ``enabled=False`` every span is a no-op, so the
    untraced run executes the same workload code."""

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.pass_index = -1
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.workload, self.pass_index)
        self.spans.append(sp)
        self._stack.append(sp)
        self._describe(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._describe(self._stack[-1].id if self._stack else None)

    def _describe(self, sid) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                "spark.job.description", None if sid is None else f"{DESC_PREFIX}{sid}"
            )

    def install(self) -> None:
        """Wrap every entry point in ``TARGETS`` (no-op when disabled)."""
        if not self.enabled:
            return
        import importlib

        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), span_name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "")
                if (name.startswith(PKG) or name == "__spark_entry__") and \
                        getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)

    def _wrap(self, fn, span_name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self._span(span_name) as sp:
                sp.result = fn(*args, **kwargs)
                return sp.result

        return wrapper


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """Jobs, stages, tasks and SQL operator metrics from one uncompressed
    Spark event log, keyed for attribution to spans."""

    def __init__(self, log_dir: str):
        # a rolling log: events_<n>_<app id>, in order of n
        files = sorted(glob.glob(os.path.join(log_dir, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.exec_jobs: dict[int, list[int]] = defaultdict(list)
        self.acc_meta: dict[int, tuple[str, str, str]] = {}
        # SQL metric values posted outside tasks (files and bytes written)
        self.posted_acc: dict[int, float] = defaultdict(float)
        self.posted_acc_exec: dict[int, int] = {}
        for fn in files:
            with open(fn) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _walk(self, plan: dict) -> None:
        for m in plan.get("metrics", []):
            self.acc_meta[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
        for c in plan.get("children", []):
            self._walk(c)

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            sid = int(desc[len(DESC_PREFIX):]) if desc.startswith(DESC_PREFIX) else None
            jid = e["Job ID"]
            self.jobs[jid] = {"span": sid, "start": e["Submission Time"] / 1000.0, "end": None}
            for s in e["Stage IDs"]:
                self.stage_job.setdefault(s, jid)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                self.exec_jobs[int(xid)].append(jid)
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sql = {}
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    sql[a["ID"]] = float(a["Update"])
            sr = m.get("Shuffle Read Metrics", {})
            self.tasks.append({
                "stage": e["Stage ID"],
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "spill": m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                "heap": (e.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0),
                "sql": sql,
            })
        elif ev.endswith("SparkListenerSQLExecutionStart") or \
                ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._walk(e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, val in e["accumUpdates"]:
                self.posted_acc[acc_id] += float(val)
                self.posted_acc_exec[acc_id] = e["executionId"]

    def task_span(self, task: dict):
        jid = self.stage_job.get(task["stage"])
        return None if jid is None else self.jobs[jid]["span"]

    def exec_span(self, xid: int):
        for jid in self.exec_jobs.get(xid, []):
            if self.jobs[jid]["span"] is not None:
                return self.jobs[jid]["span"]
        return None


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------

class Attribution:
    """Per-span sums of job, task and SQL metrics, inclusive of child spans."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = spans
        self.log = log
        children = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s.id)
        self.children = children

    def subtree(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(self.children.get(x, []))
        return out

    def ids(self, pred) -> set[int]:
        """Union of the subtrees of every span matching ``pred``."""
        out = set()
        for s in self.spans:
            if pred(s):
                out |= self.subtree(s.id)
        return out

    def jobs(self, ids: set[int]) -> list[int]:
        return [j for j, v in self.log.jobs.items() if v["span"] in ids]

    def tasks(self, ids: set[int]) -> list[dict]:
        return [t for t in self.log.tasks if self.log.task_span(t) in ids]

    def sql(self, ids: set[int], node: str, metric: str) -> float:
        """Sum of one SQL metric over the operators whose node name starts
        with ``node``, for tasks and posted updates attributed to ``ids``."""
        log = self.log
        want = {a for a, (n, m, _t) in log.acc_meta.items()
                if n.startswith(node) and m == metric}
        total = 0.0
        for t in self.tasks(ids):
            total += sum(v for a, v in t["sql"].items() if a in want)
        for a in want:
            if a in log.posted_acc and log.exec_span(log.posted_acc_exec[a]) in ids:
                total += log.posted_acc[a]
        return total

    def self_time(self, sid: int) -> float:
        """Duration minus the union of the child spans' intervals."""
        s = self.spans[sid]
        ivs = sorted((self.spans[c].start, self.spans[c].end) for c in self.children.get(sid, []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered


def straggler_ratio(tasks: list[dict]) -> float:
    """max / median task time of the stage with the most tasks."""
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["dur"])
    if not by_stage:
        return 0.0
    widest = max(by_stage.values(), key=len)
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 0.0
