"""Integer SPARK_GRAFT_* knobs are read at import; a malformed value must
not crash the package: not an integer -> the default, below 1 -> 1, each
with a warning (plain integers pass through silently)."""

import os
import subprocess
import sys

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
