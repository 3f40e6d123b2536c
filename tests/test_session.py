"""get_spark keeps what spark-submit's launcher set; no environment
variable picks a plan."""

import ast
import pathlib

import cli_p_spark
from cli_p_spark.session import _unset_by_launcher

# the only environment reads the engine makes: a deployment setting, a
# staging path, and spark-submit's gateway marker.  A plan choice is
# code, Spark conf (--conf / ``extra``) or data, never the environment.
ALLOWED_ENV = {
    "SPARK_GRAFT_DRIVER_MEM", "CLI_P_SPARK_STAGE_DIR", "PYSPARK_GATEWAY_PORT",
}


def test_launcher_conf_is_not_overridden(spark, monkeypatch):
    """Under spark-submit (PYSPARK_GATEWAY_PORT set) a key the Spark JVM
    already holds, as the launcher's ``--conf`` values are held, is left
    out of the session defaults; under plain python every default
    stays."""
    probe, unset = "spark.cli_p_spark.launcher_probe", "spark.cli_p_spark.unset"
    conf = {probe: "default", unset: "default"}
    system = spark._jvm.java.lang.System
    system.setProperty(probe, "launcher")
    try:
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
        assert _unset_by_launcher(conf) == conf
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "0")
        assert _unset_by_launcher(conf) == {unset: "default"}
    finally:
        system.clearProperty(probe)


def _env_reads(tree: ast.AST):
    """(line, key) of each ``os.environ`` / ``os.getenv`` use; key is
    None unless it is a string literal."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        name = getattr(node, "attr", None) or getattr(node, "id", None)
        if name not in ("environ", "getenv"):
            continue
        up = parents[node]
        if isinstance(up, ast.Attribute):  # os.environ.get(...)
            up = parents[up]
        arg = (up.args[0] if isinstance(up, ast.Call) and up.args
               else up.slice if isinstance(up, ast.Subscript)
               else up.left if isinstance(up, ast.Compare)
               else None)
        yield node.lineno, getattr(arg, "value", None)


def test_env_reads_are_allowlisted():
    root = pathlib.Path(cli_p_spark.__file__).parent
    bad = [
        f"{path.relative_to(root)}:{line} {key!r}"
        for path in sorted(root.rglob("*.py"))
        for line, key in _env_reads(ast.parse(path.read_text()))
        if key not in ALLOWED_ENV
    ]
    assert not bad, bad
