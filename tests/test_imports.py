"""Every intra-package ``from ... import name`` resolves, and the
benchmark's calls into the engine still fit the engine.

perfbench and ``__spark_entry__`` import engine code inside functions,
so a deleted or renamed name they still import fails only when a
benchmark run or a contract call reaches that line.  This walks every
import statement, function-level ones included, and resolves each
name.  perfbench also looks engine functions up by attribute name for
its traced pass and passes them keywords; tier-1 does not run
``perfbench/tests``, so both are checked here too."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGES = ("cli_p_spark", "perfbench")


def _sources() -> list[str]:
    out = ["run_kg.py", "__spark_entry__.py"]
    for top in ("cli_p_spark", "tools"):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, top)):
            out += [os.path.relpath(os.path.join(dirpath, f), REPO)
                    for f in files if f.endswith(".py")]
    out += [os.path.join("perfbench", f)
            for f in os.listdir(os.path.join(REPO, "perfbench"))
            if f.endswith(".py")]
    return sorted(out)


def _absolute(rel: str, node: ast.ImportFrom) -> str:
    """The absolute module an ImportFrom in file ``rel`` names."""
    if not node.level:
        return node.module
    package = os.path.dirname(rel).split(os.sep)
    base = package[: len(package) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


def _resolves(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    # a name that is a submodule of a package need not be imported yet
    return hasattr(mod, name) or hasattr(mod, "__path__") and \
        importlib.util.find_spec(f"{module}.{name}") is not None


def test_intra_package_imports_resolve():
    checked, unresolved = 0, []
    for rel in _sources():
        with open(os.path.join(REPO, rel)) as f:
            tree = ast.parse(f.read(), rel)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom):
                continue
            module = _absolute(rel, node)
            if module.split(".")[0] not in PACKAGES:
                continue
            for alias in node.names:
                checked += 1
                if not _resolves(module, alias.name):
                    unresolved.append(
                        f"{rel}:{node.lineno} {module}.{alias.name}")
    assert checked > 100
    assert not unresolved, unresolved


def _perfbench_trees():
    """(file name, AST) of every module at perfbench's top level."""
    top = os.path.join(REPO, "perfbench")
    for f in sorted(os.listdir(top)):
        if f.endswith(".py"):
            with open(os.path.join(top, f)) as fh:
                yield f, ast.parse(fh.read(), f)


def _engine_names(tree) -> dict:
    """Local name -> engine object for every ``from cli_p_spark... import``
    in ``tree``, function-level ones included."""
    names = {}
    for node in ast.walk(tree):
        if not (isinstance(node, ast.ImportFrom) and not node.level
                and node.module.split(".")[0] == "cli_p_spark"):
            continue
        mod = importlib.import_module(node.module)
        for alias in node.names:
            obj = getattr(mod, alias.name, None)
            if obj is None:
                obj = importlib.import_module(f"{node.module}.{alias.name}")
            names[alias.asname or alias.name] = obj
    return names


def test_perfbench_span_targets_resolve():
    """Each (owner, "attr", layer) target a perfbench function hands to
    ``spans_around`` names an attribute its owner has: a missing one
    would fail only in ``perfbench --trace 1``."""
    checked, missing = 0, []
    for rel, tree in _perfbench_trees():
        names = _engine_names(tree)
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            bound = {t.id: node.value for node in ast.walk(fn)
                     if isinstance(node, ast.Assign)
                     for t in node.targets if isinstance(t, ast.Name)}
            for call in ast.walk(fn):
                if not (isinstance(call, ast.Call)
                        and isinstance(call.func, ast.Name)
                        and call.func.id == "spans_around"):
                    continue
                targets = call.args[1]
                if isinstance(targets, ast.Name):
                    targets = bound[targets.id]
                for owner, attr, _layer in (t.elts for t in targets.elts):
                    checked += 1
                    if not hasattr(names[owner.id], attr.value):
                        missing.append(
                            f"{rel}:{owner.lineno} {owner.id}.{attr.value}")
    assert checked >= 10
    assert not missing, missing


def _engine_callable(func, names):
    """The engine object a call's ``func`` node names, or None."""
    if isinstance(func, ast.Name):
        return names.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        owner = names.get(func.value.id)
        if inspect.ismodule(owner):
            return getattr(owner, func.attr, None)
    return None


def test_perfbench_engine_keywords_exist():
    """Every keyword perfbench passes to an engine callable is one of
    that callable's parameters."""
    checked, unknown = 0, []
    for rel, tree in _perfbench_trees():
        names = _engine_names(tree)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            obj = _engine_callable(call.func, names)
            kws = [k.arg for k in call.keywords if k.arg]
            if obj is None or not callable(obj) or not kws:
                continue
            params = inspect.signature(obj).parameters
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            for kw in kws:
                checked += 1
                if kw not in params:
                    unknown.append(
                        f"{rel}:{call.lineno} {obj.__name__}({kw}=)")
    assert checked > 20
    assert not unknown, unknown
