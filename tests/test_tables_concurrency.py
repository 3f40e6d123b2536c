"""Concurrent build/query over TableStore — the reference documents that
a query hitting a mid-build LMDB/faiss index corrupts or crashes
(/root/reference/README.md:46-51).  The Spark engine's parquet layout
fixes this by construction at COMMIT granularity: writers stage files in
_temporary and publish them with an atomic rename, appends never rewrite
existing files, and readers plan against the published file listing — so
a concurrent reader sees a consistent prefix of commits, never a torn
file.  (The Iceberg catalog flip in plans/tables.py upgrades this to
full snapshot isolation across multi-file commits; the runtime jar is
not installable in this sandbox, so THIS test pins down the guarantee
the parquet backend provides today.)"""

import threading

from cli_p_spark.plans.tables import TableStore

BATCH = 100
N_APPENDS = 6


def test_concurrent_append_and_read_no_corruption(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "db"))
    errors: list[Exception] = []
    seen: list[int] = []
    done = threading.Event()

    def writer(tag: str):
        try:
            for i in range(N_APPENDS):
                df = spark.range(BATCH).selectExpr(
                    f"'{tag}' AS w", "id", f"{i} AS batch"
                ).coalesce(1)
                store.append(df, "events")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def reader():
        try:
            while not done.is_set():
                df = store.read("events")
                if df is not None:
                    seen.append(df.count())
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=("a",)),
        threading.Thread(target=writer, args=("b",)),
        threading.Thread(target=reader),
    ]
    for t in threads[:2]:
        t.start()
    threads[2].start()
    threads[0].join()
    threads[1].join()
    done.set()
    threads[2].join()

    assert not errors, errors
    # every observed count is a whole number of committed single-file
    # batches (no torn reads), observed counts never decrease, and the
    # final state holds every row from both writers
    assert all(c % BATCH == 0 for c in seen), seen
    assert seen == sorted(seen), seen
    assert store.read("events").count() == 2 * N_APPENDS * BATCH
    # content-level check: per-writer batch ids are all present exactly once
    got = {
        (r["w"], r["batch"], r["id"])
        for r in store.read("events").collect()
    }
    assert len(got) == 2 * N_APPENDS * BATCH


def test_catalog_branch_executes_v2_writes(spark, tmp_path):
    """Execute the TableStore catalog branch (plans/tables.py writeTo
    path) against a REAL V2 catalog — Spark's bundled JDBC catalog over
    embedded Derby.  No Iceberg jar ships in this sandbox, so this pins
    down that the catalog flip routes through DataFrameWriterV2
    correctly (append, create-on-miss fallback, overwrite, absent-table
    read); Iceberg adds snapshot semantics on the same calls."""
    spark.conf.set(
        "spark.sql.catalog.ts_testcat",
        "org.apache.spark.sql.execution.datasources.v2.jdbc."
        "JDBCTableCatalog",
    )
    spark.conf.set(
        "spark.sql.catalog.ts_testcat.url",
        "jdbc:derby:memory:ts_testdb;create=true",
    )
    spark.conf.set(
        "spark.sql.catalog.ts_testcat.driver",
        "org.apache.derby.jdbc.EmbeddedDriver",
    )
    store = TableStore(spark, str(tmp_path / "db"), catalog="ts_testcat")

    df = spark.range(10).selectExpr("id", "id % 3 AS p")
    store.append(df, "t_cat")     # create-on-miss: append -> create
    store.append(df, "t_cat")     # plain V2 append
    assert store.read("t_cat").count() == 20

    store.overwrite(spark.range(3).selectExpr("id", "id AS p"), "t_cat")
    assert store.read("t_cat").count() == 3

    assert store.read("t_cat_absent") is None

    # dynamic partition overwrite is a SOURCE capability: the JDBC
    # source rejects it (Iceberg accepts it) — the call must surface
    # the capability error from the V2 API, not silently fall back
    import pytest as _pytest

    with _pytest.raises(Exception, match="dynamic overwrite|TABLE_OPERATION"):
        store.overwrite_partitions(
            spark.range(5).selectExpr("id", "CAST(99 AS BIGINT) AS p"),
            "t_cat", ("p",),
        )


def test_read_absent_table_returns_none(spark, tmp_path):
    """A missing table and an empty table directory both read as absent;
    a written one reads back."""
    store = TableStore(spark, str(tmp_path / "db"))
    assert store.read("missing") is None
    (tmp_path / "db" / "empty").mkdir(parents=True)
    assert store.read("empty") is None
    store.append(spark.range(3), "present")
    assert store.read("present").count() == 3
