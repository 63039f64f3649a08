"""Integer SPARK_GRAFT_* knobs are read at import; a malformed value must
not crash the package: not an integer -> the default, below 1 -> 1, each
with a warning (plain integers pass through silently). The session's string
knobs (core count, driver heap) fall back to their defaults with a warning
instead of failing later inside JVM start."""

import os
import subprocess
import sys
import warnings

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KNOBS = [
    ("SPARK_GRAFT_KERNEL_BUCKET_BYTES", "scala_timeseries_lib_spark.operators._kernel", "_BUCKET_BYTES", 8 << 20),
    ("SPARK_GRAFT_SHUFFLE", "scala_timeseries_lib_spark.plans.session", "DEFAULT_SHUFFLE_PARTITIONS", 32),
]


@pytest.mark.parametrize("knob,module,attr,default", KNOBS)
@pytest.mark.parametrize("raw,want,warns", [
    ("8MiB", None, True),
    ("0", 1, True),
    ("-3", 1, True),
    ("4096", 4096, False),
])
def test_import_with_knob(knob, module, attr, default, raw, want, warns):
    proc = subprocess.run(
        [sys.executable, "-c", f"import {module} as m; print(m.{attr})"],
        env={**os.environ, knob: raw},
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert int(proc.stdout.strip().splitlines()[-1]) == (default if want is None else want)
    assert (knob in proc.stderr and "RuntimeWarning" in proc.stderr) == warns, proc.stderr


@pytest.mark.parametrize("knob,fn,raw,want", [
    ("SPARK_GRAFT_CPUS", "_default_master", "3", "local[3]"),
    ("SPARK_GRAFT_CPUS", "_default_master", "abc", None),
    ("SPARK_GRAFT_CPUS", "_default_master", "0", None),
    ("SPARK_GRAFT_DRIVER_MEM", "_default_driver_mem", "12g", "12g"),
    ("SPARK_GRAFT_DRIVER_MEM", "_default_driver_mem", "lots", None),
    ("SPARK_GRAFT_DRIVER_MEM", "_default_driver_mem", "8 g", None),
])
def test_session_string_knob(monkeypatch, knob, fn, raw, want):
    from scala_timeseries_lib_spark.plans import session

    monkeypatch.delenv(knob, raising=False)
    default = getattr(session, fn)()
    assert knob != "SPARK_GRAFT_CPUS" or default == "local[*]"
    monkeypatch.setenv(knob, raw)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = getattr(session, fn)()
    assert got == (default if want is None else want)
    warned = [w for w in caught
              if w.category is RuntimeWarning and knob in str(w.message)]
    assert bool(warned) == (want is None)
