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
