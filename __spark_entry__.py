"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship KG-construction query on sf0.001.
queries()      -> operator inventory per SURVEY.md §2.2 (cli_p_spark.plans.contract).
oracle_sql()   -> DuckDB twins for EVERY QUERIES entry (key parity is
                  test-enforced in tests/test_contract): UDF-based entries
                  (kg_*, minhash/simhash, media, curate) stage their
                  intermediates to parquet and the SQL re-derives the
                  result from the same bytes.  The external driver
                  evaluates the FIRST 50 dict entries; the rest ROTATE
                  through that window so every entry gets a driver
                  CORRECTNESS row at least every third round, and an
                  entry whose code changed since its last row re-enters
                  at once.  An entry that slips past the window is
                  documented in the QUERIES comment in plans/contract.py
                  and in SLIPPED of tools/check_rotation.py, which
                  checks the policy against the committed
                  CORRECTNESS_r*.json records.  ALL entries are still
                  checked every round by tools/check_contract.py
                  (Arrow-off, strict repr floats).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the cli_p_spark package lives next to this file; make that work even
# when this module is imported by absolute path from another cwd
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

_PKG_ZIP: str | None = None


def _ensure_workers(spark: "SparkSession", _retry: bool = True) -> None:
    """Executor processes unpickle UDF closures that import cli_p_spark;
    if the driver session wasn't launched from this directory the workers
    can't resolve the package.  Ship it via addPyFile (idempotent)."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        import tempfile
        import zipfile

        zp = os.path.join(
            tempfile.mkdtemp(prefix="cli_p_spark_pkg_"), "cli_p_spark.zip"
        )
        root = os.path.join(_HERE, "cli_p_spark")
        with zipfile.ZipFile(zp, "w") as z:
            for dirpath, _dirs, files in os.walk(root):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, _HERE))
        _PKG_ZIP = zp
    try:
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        # a genuine failure (e.g. the tempdir was reaped) must not be
        # swallowed into a later worker-side ModuleNotFoundError: rebuild
        # the zip ONCE and retry; re-adding an existing path only WARNs,
        # so reaching here means something real went wrong
        if not _retry:
            raise
        _PKG_ZIP = None
        _ensure_workers(spark, _retry=False)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG triples over sf0.001.

    Loads the driver's flat documents table, lifts each row into the
    interleaved-span shape (one text span per doc — the degenerate case of
    the input_hint schema), links every span against a deterministic
    entity index through the fused encode+search pass at nprobe = nlist
    (exact f64 search), and returns the (subj, pred, obj, score,
    span_idx, rank) triples.
    """
    import numpy as np

    from cli_p_spark.config import PipelineConfig
    from cli_p_spark.fixtures.generate import make_entities
    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.plans.pipeline import plan_kg

    _ensure_workers(spark)
    flat = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = flat.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    ents = make_entities(200)
    cfg = PipelineConfig(tau=0.0, k=1)  # rank-1 link for every doc
    centroids = train_centroids(
        np.stack(ents["embedding"].to_numpy()), seed=cfg.seed
    )
    return plan_kg(
        docs, ents, centroids, cfg, nprobe=len(centroids)
    ).triples.drop("part_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from cli_p_spark.plans.contract import QUERIES

    def wrap(fn):
        def inner(spark, sf_dir):
            _ensure_workers(spark)
            return fn(spark, sf_dir)

        inner.__name__ = fn.__name__
        inner.__doc__ = fn.__doc__
        return inner

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from cli_p_spark.plans.contract import ORACLES

    return dict(ORACLES)
