"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB target, not just local tests: AQE on
(runtime coalescing + skew-join splitting — the north_rule's 'AQE-handled
skew joins in linking'), Arrow on for pandas-UDF batches (the encoder hot
path), and a bounded Arrow batch size playing the role of the reference's
RAM-bound chunking (build-index.py:14-15: 20k x 512 blocks).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _unset_by_launcher(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` without the keys spark-submit's launcher already set.

    Under spark-submit the Spark JVM is up before this process starts
    (it exports ``PYSPARK_GATEWAY_PORT``) and holds the launcher's
    ``--conf`` values, so reading them through ``SparkConf()`` only
    connects to it.  Under plain python there is no launcher and
    ``conf`` is returned whole."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return conf
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    launched = SparkConf()
    return {k: v for k, v in conf.items() if not launched.contains(k)}


def get_spark(
    app: str = "cli_p_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session.  ``master`` is set only when given, so
    spark-submit's ``--master`` otherwise wins, and a value the launcher
    set with ``--conf`` is kept over these defaults and ``extra``."""
    conf = {
        "spark.app.name": app,
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # shuffled-hash join when its size conditions fit: skips the
        # per-partition sorts of sort-merge — a win wherever one side of
        # an equi-join is moderately small per partition (candidate
        # verify joins, dim joins past the broadcast cap).  AQE still
        # guards the build side; a memory-tight deployment restores the
        # sort-merge default with --conf (or ``extra``)
        # spark.sql.join.preferSortMergeJoin=true.
        "spark.sql.join.preferSortMergeJoin": "false",
        # bounded Arrow batches ~ reference's split_table chunking
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # local-scale file splits: default 128MB bins collapse a small
        # corpus into 1-2 scan tasks, serializing the pre-shuffle map side
        # (at warehouse scale files are plentiful and this barely matters)
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(512 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        **(extra or {}),
    }
    b = SparkSession.builder
    if master:
        b = b.master(master)
    for k, v in _unset_by_launcher(conf).items():
        b = b.config(k, v)
    return b.getOrCreate()
