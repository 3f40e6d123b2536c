"""Every intra-package ``from ... import name`` resolves.

perfbench and ``__spark_entry__`` import engine code inside functions,
so a deleted or renamed name they still import fails only when a
benchmark run or a contract call reaches that line.  This walks every
import statement, function-level ones included, and resolves each
name."""

from __future__ import annotations

import ast
import importlib
import importlib.util
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
