"""The worker package zip is named by its sources, so two checkouts that
share a temp dir each ship their own code (``plans/packaging.py``)."""

import importlib.util
import os
import pathlib
import shutil
import zipfile

PKG = pathlib.Path(__file__).resolve().parent.parent / "scala_timeseries_lib_spark"


def _checkout(root, marker):
    """A copy of the package under ``root`` whose ``_env.py`` ends with
    ``marker``; returns its own ``build_pyfiles_zip``."""
    dst = root / "scala_timeseries_lib_spark"
    shutil.copytree(PKG, dst, ignore=shutil.ignore_patterns("__pycache__"))
    with open(dst / "_env.py", "a") as fh:
        fh.write(marker)
    spec = importlib.util.spec_from_file_location(
        f"packaging_{root.name}", dst / "plans" / "packaging.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return dst, mod.build_pyfiles_zip


def _shipped_env(zip_path):
    with zipfile.ZipFile(zip_path) as zf:
        return zf.read("scala_timeseries_lib_spark/_env.py").decode()


def test_each_checkout_ships_its_own_sources(tmp_path):
    dest = tmp_path / "tmp"
    dest.mkdir()
    old_pkg, build_old = _checkout(tmp_path / "old", "# old checkout\n")
    _new_pkg, build_new = _checkout(tmp_path / "new", "# new checkout\n")
    # the older checkout's files predate the newer one's zip, so a rebuild
    # decided by file times would hand it the newer checkout's package
    for path in old_pkg.rglob("*.py"):
        os.utime(path, (1_000_000_000, 1_000_000_000))
    new_zip = build_new(str(dest))
    old_zip = build_old(str(dest))
    assert new_zip != old_zip
    assert _shipped_env(new_zip).endswith("# new checkout\n")
    assert _shipped_env(old_zip).endswith("# old checkout\n")
    # same sources, same zip: the second build reuses the first
    assert build_old(str(dest)) == old_zip
    assert sorted(p.name for p in dest.iterdir()) == sorted(
        os.path.basename(z) for z in (new_zip, old_zip))
    with zipfile.ZipFile(old_zip) as zf:
        shipped = set(zf.namelist())
    assert shipped == {str(p.relative_to(old_pkg.parent))
                       for p in old_pkg.rglob("*.py")}


def test_ship_package_adds_the_zip_once_per_session(spark):
    from scala_timeseries_lib_spark.plans.packaging import ship_package

    name = os.path.basename(ship_package(spark))
    ship_package(spark)
    assert spark.sparkContext._python_includes.count(name) == 1
