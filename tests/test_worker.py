"""``drop_zip_finders`` and the rule that every engine UDF calls it first.

PySpark invalidates the import caches at the start of each Python task,
and on CPython <= 3.12 every cached ``zipimporter`` then re-reads its
archive.  These tests check that dropping the zip finders keeps imports
working, that an engine UDF body leaves a reused worker with none, and
that every Python UDF under ``cli_p_spark/`` makes the call first."""

from __future__ import annotations

import ast
import importlib.machinery
import inspect
import os
import sys
import zipfile
import zipimport

import pytest

from cli_p_spark.worker import drop_zip_finders

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_drop_zip_finders_keeps_imports(tmp_path, monkeypatch):
    zp = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("zip_probe_a.py", "def f():\n    return 1\n")
        z.writestr("zip_probe_b.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(zp)
    # the probe modules leave sys.modules again when the test ends
    for name in ("zip_probe_a", "zip_probe_b"):
        monkeypatch.setitem(sys.modules, name, None)
        del sys.modules[name]
    import zip_probe_a

    assert isinstance(sys.path_importer_cache[zp], zipimport.zipimporter)
    dirs = {p: f for p, f in sys.path_importer_cache.items()
            if isinstance(f, importlib.machinery.FileFinder)}
    assert dirs

    drop_zip_finders()

    assert zp not in sys.path_importer_cache
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    # the loaded module keeps its loader: it runs and its source reads
    assert zip_probe_a.f() == 1
    assert "return 1" in inspect.getsource(zip_probe_a.f)
    import zip_probe_b

    assert zip_probe_b.VALUE == 2
    assert all(sys.path_importer_cache.get(p) is f for p, f in dirs.items())


def test_engine_udf_leaves_no_zip_finder(spark):
    """One task: make sure a zip finder exists, run an engine UDF body
    on a tiny frame, count the zip finders left."""

    def probe(batches):
        import os
        import pkgutil

        import pandas as pd
        import pyspark

        from cli_p_spark.operators.lsh import _sorted_run_pairs

        def zip_count():
            return sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())

        def kernel():
            tiny = pd.DataFrame({"_id": [1, 2, 3], "_key": [7, 7, 9]})
            return pd.concat(list(_sorted_run_pairs(iter([tiny]), ["_key"],
                                                    10)))

        for _ in batches:
            pass
        archive = os.path.dirname(os.path.dirname(pyspark.__file__))
        zipped = os.path.isfile(archive)
        kernel()  # any lazy import of the kernel's first call runs here
        if zipped:
            pkgutil.get_importer(archive)
        before = zip_count()
        pairs = kernel()
        after = zip_count()
        yield pd.DataFrame({"zipped": [zipped], "before": [before],
                            "after": [after], "pairs": [len(pairs)]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "zipped boolean, before long, after long, "
                               "pairs long")
           .collect()[0])
    if not row.zipped:
        pytest.skip("the workers import pyspark from a directory")
    assert row.pairs == 1
    assert row.before > 0
    assert row.after == 0


_UDF_DECORATORS = {"pandas_udf", "udf"}
_UDF_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow"}


def _name(node) -> str | None:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _udf_bodies(tree) -> tuple[list[ast.FunctionDef], list[int]]:
    """(every function ``tree`` runs as a Python UDF, the lines of UDF
    arguments that name no function defined in the module)."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}

    def resolve(name: str, at) -> ast.FunctionDef | None:
        # innermost enclosing scope that defines ``name``
        while at is not None:
            if isinstance(at, (ast.FunctionDef, ast.Module)):
                for s in at.body:
                    if isinstance(s, ast.FunctionDef) and s.name == name:
                        return s
            at = parents.get(at)
        return None

    found, unresolved = [], []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and any(
                _name(d) in _UDF_DECORATORS for d in node.decorator_list):
            found.append(node)
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _UDF_METHODS):
            continue
        arg = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg == "func"), None)
        if isinstance(arg, ast.Lambda) and isinstance(arg.body, ast.Call):
            arg = arg.body.func
        fn = resolve(arg.id, node) if isinstance(arg, ast.Name) else None
        if fn is None:
            unresolved.append(node.lineno)
        else:
            found.append(fn)
    return found, unresolved


def _drops_first(fn) -> bool:
    body = fn.body[1:] if ast.get_docstring(fn) is not None else fn.body
    first = body[0] if body else None
    return (isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
            and _name(first.value) == "drop_zip_finders")


def test_udf_guard_flags_a_missing_call():
    src = '''
def _kernel(batches, k):
    """doc"""
    drop_zip_finders()
    yield from batches

def plan(df):
    def good(batches):
        drop_zip_finders()
        yield from batches

    def bad(batches):
        yield from batches

    @pandas_udf("int")
    def col_udf(s):
        return s

    return (df.mapInPandas(good, "x int")
            .mapInPandas(lambda it: _kernel(it, 1), "x int")
            .mapInArrow(bad, "x int")
            .mapInPandas(some_module.fn, "x int"))
'''
    found, unresolved = _udf_bodies(ast.parse(src))
    assert sorted(f.name for f in found) == ["_kernel", "bad", "col_udf",
                                             "good"]
    assert sorted(f.name for f in found if not _drops_first(f)) == [
        "bad", "col_udf"]
    assert len(unresolved) == 1


def test_engine_udfs_drop_zip_finders_first():
    """Every Python UDF under ``cli_p_spark/`` (a ``@pandas_udf`` or
    ``@udf``, or a function handed to mapInPandas/mapInArrow or
    applyInPandas/applyInArrow directly or via a lambda) calls
    ``drop_zip_finders()`` as its first statement."""
    checked, bad = 0, []
    for dirpath, _dirs, files in os.walk(os.path.join(REPO, "cli_p_spark")):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, REPO)
            with open(path) as fh:
                found, unresolved = _udf_bodies(ast.parse(fh.read(), rel))
            bad += [f"{rel}:{line} UDF argument names no local function"
                    for line in unresolved]
            for fn in found:
                checked += 1
                if not _drops_first(fn):
                    bad.append(f"{rel}:{fn.lineno} {fn.name}")
    assert checked >= 12
    assert not bad, bad
