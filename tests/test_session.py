"""get_spark keeps what spark-submit's launcher set."""

from cli_p_spark.session import _unset_by_launcher


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
