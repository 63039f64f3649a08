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


# Package code kept although no entry point reaches it, each with its
# reason. A key ending in ".py" or "/" roots every def of that module or
# package directory; any other key roots the defs of that name.
REACHABILITY_ROOTS = {
    "entity.py": "the reference's entry algebra (TSEntry, TsId)",
    "kernel/": "sequential references and kernels the operators are "
               "twin-tested against",
    "fit_entries": "the reference's TSEntryFitter as a batch operator",
    "dynamic_window_exact": "the reference's dynamic-window aggregation",
    "stream_fit_entries": "the reference's AppendableEntryStream fitter",
    "extract_text_py": "sequential twin of the vectorized text extraction",
    "IcebergBackend": "the Iceberg storage leg, for callers with its jar",
    "iceberg_available": "the Iceberg leg's classpath probe",
}


def _mentions(node):
    """Every name a node mentions: identifiers, attributes, imported names
    and identifier-like string constants (getattr dispatch, name tables)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.split(".")[-1]
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            yield n.value


def test_every_package_def_is_reached_from_an_entry_point():
    """Each module-level def or class of the package is reachable from the
    entry points (``__spark_entry__.py``, ``bench*.py``, ``jobs/``,
    ``tools/``, ``tsbench/``), from package module-level statements, or
    from ``REACHABILITY_ROOTS``, through the names each reached def
    mentions. ``__all__`` lists and imports do not count as use. Matching
    is by name, so dead code that shares a name with live code is missed,
    but live code is never flagged."""
    root_mods = tuple(k for k in REACHABILITY_ROOTS if k.endswith((".py", "/")))
    roots = set(REACHABILITY_ROOTS) - set(root_mods)
    defs = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        rel = path.relative_to(ROOT / PKG).as_posix()
        whole = rel.startswith(root_mods)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(
                    (f"{rel}:{stmt.lineno}", set(_mentions(stmt))))
                if whole:
                    roots.add(stmt.name)
            elif not (isinstance(stmt, (ast.Import, ast.ImportFrom))
                      or isinstance(stmt, ast.Assign) and any(
                          getattr(t, "id", None) == "__all__"
                          for t in stmt.targets)):
                roots.update(_mentions(stmt))
    entries = [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    for d in ("jobs", "tools", "tsbench"):
        entries += (ROOT / d).rglob("*.py")
    for path in entries:
        roots.update(_mentions(ast.parse(path.read_text())))

    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _loc, names in defs.get(name, ()):
                todo.extend(names - reached)
    assert len(defs) > 200
    unreached = sorted(f"{loc} {name}" for name, found in defs.items()
                       if name not in reached for loc, _ in found)
    assert not unreached, "\n".join(unreached)
