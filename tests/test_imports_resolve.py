"""Every import of a package name resolves. The imports are read with
stdlib ``ast`` from the package, ``tools/``, ``jobs/``, ``tests/``,
``__spark_entry__.py`` and ``bench*.py``; each target is looked up by
importing its package module (no SparkSession). A name deleted from the
package must be gone from every caller too."""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "scala_timeseries_lib_spark"


def _package_imports(path):
    """(line, module, name-or-None) for every import of the package,
    relative imports resolved against the file's own package."""
    pkg_parts = list(path.relative_to(ROOT).parts[:-1])
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = pkg_parts[:len(pkg_parts) - node.level + 1]
                mod = ".".join(base + ([mod] if mod else []))
            if mod.split(".")[0] == PKG:
                yield from ((node.lineno, mod, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            yield from ((node.lineno, a.name, None) for a in node.names
                        if a.name.split(".")[0] == PKG)


def test_package_imports_resolve():
    sources = [*(ROOT / PKG).rglob("*.py"), ROOT / "__spark_entry__.py",
               *ROOT.glob("bench*.py")]
    for d in ("tools", "jobs", "tests"):
        sources += (ROOT / d).glob("*.py")
    seen, missing = 0, []
    for path in sources:
        for line, mod, name in _package_imports(path):
            seen += 1
            try:
                m = importlib.import_module(mod)
                if name not in (None, "*") and not hasattr(m, name):
                    importlib.import_module(f"{mod}.{name}")
            except ImportError as ex:
                missing.append(f"{path.relative_to(ROOT)}:{line}: {ex}")
    assert seen > 200
    assert not missing, "\n".join(missing)


def test_operators_take_no_plan_selector():
    """Each operator picks its own plan: no public function in
    ``operators/`` takes a plan-selector parameter, and the public
    relational merge wrappers and the engine router are gone."""
    import inspect
    import pkgutil

    operators = importlib.import_module(f"{PKG}.operators")
    selectors = {"engine", "skew_guard", "hot_threshold", "time_slice",
                 "skew_safe"}
    checked = 0
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, fn in vars(mod).items():
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__):
                continue
            checked += 1
            params = set(inspect.signature(fn).parameters)
            assert not params & selectors, f"{mod.__name__}.{name}"
    assert checked > 20
    merge = importlib.import_module(f"{PKG}.operators.merge")
    for name in ("merge_series_relational", "merge_series_n_relational",
                 "strict_zip_series_relational", "_route_engine"):
        assert not hasattr(merge, name), name


def test_kernel_twins_stay_gone():
    """Each kernel keeps its production form and its sequential reference
    only: the deleted twins, dead helpers and copied segment lookups are not
    defined or referenced anywhere in the package, and the window's
    relational functions are private."""
    gone = {
        "decompress_array", "decompress_tuple_block_arrays", "_within",
        "sample_arrays_closest", "sample_arrays_strict",
        "step_integral_arrays", "_value_at", "_union_segments", "_side_at",
        "sliding_window_exact_relational", "rolling_values_relational",
    }
    found = []
    for path in (ROOT / PKG).rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            for field in ("name", "asname", "id", "attr", "value"):
                x = getattr(node, field, None)
                if isinstance(x, str) and x in gone:
                    found.append(f"{path.relative_to(ROOT)}:"
                                 f"{getattr(node, 'lineno', '?')}: {x}")
    assert not found, "\n".join(found)
