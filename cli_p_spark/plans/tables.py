"""Thin table-store abstraction: parquet directories today, Iceberg by
config flip (SURVEY.md §7 hard part (e)).

The north_rule targets partitioned Iceberg graph tables with snapshot
isolation (fixing the reference's documented concurrent-build corruption,
README.md:46-51).  The iceberg-spark runtime jar is not present in this
sandbox, so the default backend lays out Iceberg-shaped partitioned
parquet directories under a base path; when a Spark catalog is configured
(``spark.sql.catalog.<name>`` pointing at an Iceberg catalog), the same
calls route through the DataFrameWriterV2 ``writeTo`` API — appends become
Iceberg snapshot commits and resume reads become time-travel-safe.

Only this module touches storage paths; operators and plans speak in
logical table names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class TableStore:
    def __init__(self, spark: SparkSession, base: str,
                 catalog: str | None = None):
        self.spark = spark
        self.base = base.rstrip("/")
        # config flip: pass an Iceberg catalog name (and have the catalog
        # configured on the session) to switch every write to writeTo()
        self.catalog = catalog

    # -- naming -----------------------------------------------------------
    def _path(self, table: str) -> str:
        return f"{self.base}/{table}"

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{table}"

    def _fs_path(self, table: str):
        """(Hadoop FileSystem, Path) of ``table``'s directory."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self._path(table))
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration()), path

    # -- writes -----------------------------------------------------------
    def append(self, df: DataFrame, table: str,
               partition_by: tuple[str, ...] = ()) -> None:
        """Write-audit-publish append: the batch lands in a PRIVATE
        staging directory, then its files move into the table by atomic
        filesystem rename.  Plain ``mode('append')`` shares one
        ``_temporary/0`` committer dir per path, so two concurrent
        appends clobber each other's staged task files (the Spark twin
        of the reference's concurrent build/query corruption,
        README.md:46-51).  Private staging makes concurrent appends
        safe; each FILE publishes atomically (single-file batches =
        atomic commits; multi-file snapshot atomicity is the Iceberg
        catalog flip)."""
        if self.catalog:
            w = df.writeTo(self._ident(table))
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            # append-first, create-on-miss: a check-then-act
            # exists()+createOrReplace would let two concurrent FIRST
            # appends both see "absent" and the second REPLACE silently
            # drop the first batch; create() (not createOrReplace) fails
            # on an existing table, so the loser retries as an append
            try:
                w.append()
            except Exception:
                try:
                    w.create()
                except Exception:
                    w.append()
            return
        import uuid

        staging = f"{self.base}/.staging/{table}-{uuid.uuid4().hex}"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        self._publish(staging, self._path(table))

    def _publish(self, staging: str, target: str) -> None:
        """Move every data file from staging into target (atomic per-file
        Hadoop FS renames; works on file:// and HDFS — Spark's own part-
        file names are already globally unique, so no collisions)."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        HPath = jvm.org.apache.hadoop.fs.Path
        fs = HPath(staging).getFileSystem(conf)
        src_root = fs.makeQualified(HPath(staging)).toUri().getPath()
        it = fs.listFiles(HPath(staging), True)
        while it.hasNext():
            f = it.next().getPath()
            if f.getName().startswith(("_", ".")):
                continue
            rel = f.toUri().getPath()[len(src_root):].lstrip("/")
            dest = HPath(f"{target}/{rel}")
            fs.mkdirs(dest.getParent())
            if not fs.rename(f, dest):
                raise IOError(f"publish rename failed: {f} -> {dest}")
        fs.delete(HPath(staging), True)

    def overwrite(self, df: DataFrame, table: str) -> None:
        if self.catalog:
            df.writeTo(self._ident(table)).createOrReplace()
            return
        df.write.mode("overwrite").parquet(self._path(table))

    def overwrite_partitions(self, df: DataFrame, table: str,
                             partition_by: tuple[str, ...]) -> None:
        """Dynamic-partition overwrite: replaces exactly the partition
        directories present in ``df``, leaving others untouched.  This is
        the IDEMPOTENT write resume needs — re-running a partition after
        a crash replaces its directory instead of appending duplicates
        (write-audit-publish semantics per partition; maps to Iceberg
        overwritePartitions under a catalog)."""
        if self.catalog:
            df.writeTo(self._ident(table)).overwritePartitions()
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self._path(table))
        )

    def drop(self, table: str) -> None:
        """Remove ``table`` and all its rows; a missing table is a no-op."""
        if self.catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(table)}")
            return
        fs, path = self._fs_path(table)
        fs.delete(path, True)

    # -- reads ------------------------------------------------------------

    # error conditions that mean "table absent", not "table broken":
    # swallowing everything here would make a corrupt/transient lineage
    # read indistinguishable from a fresh run and re-append duplicates.
    _ABSENT_MARKERS = (
        "PATH_NOT_FOUND",
        "UNABLE_TO_INFER_SCHEMA",   # dir exists but holds no parquet yet
        "TABLE_OR_VIEW_NOT_FOUND",
    )

    def read(self, table: str) -> DataFrame | None:
        from pyspark.errors import AnalysisException

        try:
            if self.catalog:
                return self.spark.read.table(self._ident(table))
            # a missing directory (every fresh run) costs one FS call,
            # not an AnalysisException round trip
            fs, path = self._fs_path(table)
            if not fs.exists(path):
                return None
            return self.spark.read.parquet(self._path(table))
        except AnalysisException as e:
            if any(m in str(e) for m in self._ABSENT_MARKERS):
                return None
            raise
