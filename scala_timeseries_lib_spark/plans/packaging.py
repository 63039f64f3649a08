"""spark-submit --py-files packaging.

Builds a zip of the ``scala_timeseries_lib_spark`` package so that Python
workers (which do not inherit the driver's ``sys.path``) can unpickle the
Arrow-UDF kernels. ``plans.session.get_spark`` ships it automatically via
``SparkContext.addPyFile``; for cluster deployment the same artifact is what
you pass to ``spark-submit --py-files``.

The zip is named by a digest of the sources (relative paths and bytes), so
two checkouts of the package that share a temp dir each ship their own code,
and a rebuild is never decided by file times.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

__all__ = ["build_pyfiles_zip", "ship_package"]


def build_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip the package sources; returns the zip path,
    ``<dest_dir>/scala_timeseries_lib_spark-<digest>.zip``. Built once per
    source content: an existing zip of the same digest is reused. The zip is
    written under a temp name and renamed into place, so concurrent builders
    never ship a half-written file."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    dest_dir = dest_dir or tempfile.gettempdir()

    sources = {}
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for fn in filenames:
            if fn.endswith(".py"):
                src = os.path.join(dirpath, fn)
                with open(src, "rb") as fh:
                    sources[os.path.relpath(src, root)] = fh.read()
    digest = hashlib.sha256()
    for rel in sorted(sources):
        digest.update(rel.encode() + b"\0" + sources[rel] + b"\0")
    zip_path = os.path.join(
        dest_dir, f"scala_timeseries_lib_spark-{digest.hexdigest()[:16]}.zip"
    )
    if os.path.exists(zip_path):
        return zip_path
    fd, tmp = tempfile.mkstemp(dir=dest_dir, suffix=".zip.tmp")
    os.fchmod(fd, 0o644)
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel in sorted(sources):
                zf.writestr(rel, sources[rel])
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
    return zip_path


def ship_package(spark) -> str:
    """Make the package importable on all Python workers of this session."""
    zip_path = build_pyfiles_zip()
    spark.sparkContext.addPyFile(zip_path)
    return zip_path
