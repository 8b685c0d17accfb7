"""drop_zip_importers: zipimporter entries leave sys.path_importer_cache,
and modules in the archive still import; every Python function the engine
hands to Spark calls it first."""

import ast
import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

from light_curve_python_spark.session import drop_zip_importers

PKG = "lcps_zip_probe"
ROOT = Path(__file__).resolve().parents[1]
UDF_METHODS = {"mapInArrow", "mapInPandas", "applyInArrow", "applyInPandas",
               "applyInPandasWithState"}


def _zip_importers():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_drop_zip_importers(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/first.py", "VALUE = 1\n")
        z.writestr(f"{PKG}/second.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    try:
        first = importlib.import_module(f"{PKG}.first")
        assert isinstance(first.__loader__, zipimport.zipimporter)
        assert _zip_importers()

        drop_zip_importers()
        assert _zip_importers() == []
        # what Spark's worker runs at every task start: with no importer
        # cached, no archive directory is re-read
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path)
                            or read_directory(path))
        importlib.invalidate_caches()
        assert reads == []
        monkeypatch.undo()

        second = importlib.import_module(f"{PKG}.second")
        assert second.VALUE == 2
        assert second.__file__.startswith(str(archive))
        assert _zip_importers()     # the import re-created one
        drop_zip_importers()
        assert _zip_importers() == []
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in [m for m in sys.modules
                     if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]


def _local_defs(scope):
    """Functions defined directly in ``scope`` (not in nested scopes)."""
    defs, todo = {}, list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs[node.name] = node
        elif not isinstance(node, (ast.ClassDef, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(node))
    return defs


def _is_pandas_udf(decorator):
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (getattr(target, "id", None) or getattr(target, "attr", None)) \
        == "pandas_udf"


def _udf_entry_sites(tree):
    """(line, function def or None) of every function handed to Spark as a
    Python UDF; a name resolves through the enclosing function scopes."""
    sites = []

    def visit(node, scopes):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if any(_is_pandas_udf(d) for d in node.decorator_list):
                sites.append((node.lineno, node))
            scopes = scopes + [_local_defs(node)]
        if isinstance(node, ast.Call) \
                and getattr(node.func, "attr", None) in UDF_METHODS:
            arg = node.args[0] if node.args else next(
                k.value for k in node.keywords if k.arg == "func")
            fn = next((s[arg.id] for s in reversed(scopes)
                       if isinstance(arg, ast.Name) and arg.id in s), None)
            sites.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    visit(tree, [_local_defs(tree)])
    return sites


def _calls_drop_first(fn):
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value,
                                                    ast.Constant):
        body = body[1:]
    stmt = body[0]
    return isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Call) \
        and getattr(stmt.value.func, "id", None) == "drop_zip_importers" \
        and not stmt.value.args


def test_udf_entry_points_drop_zip_importers():
    """A Python worker re-reads every zip on sys.path at each task start
    unless the function Spark calls drops the cached zipimporters first
    (about 0.2 s of worker CPU per task)."""
    files = sorted((ROOT / "light_curve_python_spark").rglob("*.py")) \
        + [ROOT / "__spark_entry__.py"]
    sites, bad = 0, []
    for path in files:
        for line, fn in _udf_entry_sites(ast.parse(path.read_text())):
            sites += 1
            where = f"{path.relative_to(ROOT)}:{line}"
            if fn is None:
                bad.append(f"{where}: UDF is not a def in an enclosing scope")
            elif not _calls_drop_first(fn):
                bad.append(f"{where}: {fn.name} does not start with "
                           "drop_zip_importers()")
    assert sites > 0
    assert bad == []
