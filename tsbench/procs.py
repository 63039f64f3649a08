"""Process-tree helpers: peak RSS sampling, the CPU probe, and reaping.

Reads ``/proc`` directly (Linux only); the benchmark's own Python process
is excluded from the RSS sum, so the figure covers the Spark JVM and its
Python workers.
"""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphaned descendants (Spark's Python daemon outliving the JVM) are
    re-parented to this process, so :func:`reap` can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the JVM, Spark's Python daemon and workers). A worker that exited is
    counted through the daemon that waited for it. Time the hypervisor
    gives to other guests (steal) is not in it, unlike wall time."""
    t = os.times()
    total = t.user + t.system
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / TICK  # utime stime cutime cstime
    return total


class PeakRss:
    """Samples the RSS of every descendant of this process every 100 ms."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


SPIN = """
import time
t0 = time.perf_counter()
x = 0
for i in range({n}):
    x += i * i
print(time.perf_counter() - t0)
"""


def cpu_probe(n_procs: int, n: int = 1_000_000) -> dict:
    """A fixed pure-Python loop in ``n_procs`` parallel processes: the box's
    per-core speed at this moment, recorded as context, not as a metric."""
    procs = [subprocess.Popen([sys.executable, "-c", SPIN.format(n=n)],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(n_procs)]
    times = [float(p.communicate(timeout=120)[0]) for p in procs]
    return {"procs": n_procs, "loop_median_s": round(statistics.median(times), 4),
            "loop_max_s": round(max(times), 4)}


def _wait_exited_children() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def reap(timeout: float = 30.0) -> list[int]:
    """Wait for every descendant to exit, collecting exited children (this
    process is their subreaper); kill the ones still alive after
    ``timeout``. Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        _wait_exited_children()
        left = descendants(me)
        if not left or time.monotonic() >= deadline:
            break
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(50):
        _wait_exited_children()
        if not descendants(me):
            break
        time.sleep(0.1)
    return left
