"""Checkpointed, resumable pipeline runs with per-partition lineage.

Generalizes the reference's resumability devices — the fn_db/skip_db
presence checks that make build-index.py idempotent (build-index.py:36-44,
59-61) and the per-query timing print (query-index.py:110-113) — to
partition granularity, per the north_rule: "every stage writes
per-partition lineage + metrics and commits checkpoints so a killed run
resumes at partition granularity".

Layout under ``out_dir``:

    mentions/part_id=N/...   embedding-stage output, one dir per partition
    skips/part_id=N/...      quarantined spans, same partitioning
    triples/                 final links
    lineage/                 one row per (stage, part_id, run_id): counts,
                             wall seconds, timestamp, status

Resume protocol (the expensive stage is encode — that is what must not
recompute): a partition of the embedding stage is DONE iff a lineage row
(stage='embed', part_id, status='done') exists.  A resumed run encodes
only the spans of not-done partition ids (exactly the reference's fn_db
check, build-index.py:42-44, lifted from per-file to per-partition) and
dynamic-partition-OVERWRITES their directories: data commits before
lineage, so a kill between the two leaves partitions unmarked — the
resume re-runs them and the overwrite replaces (never duplicates) their
rows.  Idempotent per-partition commit, no write-ordering race (gated by
test_resume's after_data kill).  Downstream stages are cheap relative to
encode and rebuild from the union of all mention partitions.

Bookkeeping stays off the data path.  The embed stage scans the corpus
once: there is no pre-pass for the partition ids present (an id no
document hashes to yields no rows and no lineage), and the skips write
takes its part_id from the encoded frame instead of re-joining a second
explode.  The encoded frame is cached, and the mentions write, the skips
write and one groupBy(part_id) for the per-partition row and skip counts
all consume it; the written tables are never read back for counting.
Lineage rows commit from a driver-local Arrow table, not as pickled rows
through a Python RDD.  A row's ``wall_s`` is still the stage wall divided
by the partitions it wrote: an average, not a per-partition measurement.

part_id = pmod(xxhash64(doc_id), n_parts): deterministic, independent of
input order and cluster size — a resume on a different cluster still
skips the right work.
"""

from __future__ import annotations

import datetime
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from .pipeline import (
    encode_mentions,
    explode_spans,
    split_skips,
    triples_from_links,
)

LINEAGE_SCHEMA = (
    "stage string, part_id int, run_id string, status string, "
    "n_rows long, n_skips long, wall_s double, ts timestamp"
)


def _utcnow() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    from .tables import TableStore

    return TableStore(spark, out_dir).read("lineage")


def _append_lineage(spark: SparkSession, out_dir: str, rows: list[tuple]):
    """Commit ``rows`` as one file.  The rows travel as a driver-local
    Arrow table (a JVM-side scan of Arrow batches), not as pickled tuples
    through a Python RDD, and whatever the session's Arrow setting."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from .tables import TableStore

    schema = StructType.fromDDL(LINEAGE_SCHEMA)
    table = pa.Table.from_pandas(
        pd.DataFrame(rows, columns=schema.fieldNames()), preserve_index=False
    )
    TableStore(spark, out_dir).append(
        spark.createDataFrame(table, schema).coalesce(1), "lineage"
    )


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    entities_pdf,
    out_dir: str,
    cfg: PipelineConfig = PipelineConfig(),
    run_id: str = "run0",
    n_parts: int = 16,
    nlist: int = 100,
    nprobe: int = 32,
    fail_after_parts: int | None = None,
    fail_mode: str = "after_lineage",
    link_strategy: str = "broadcast",
) -> dict[str, str]:
    """Execute (or resume) the KG pipeline into ``out_dir``.

    ``fail_after_parts`` simulates a mid-run kill for the resume tests:
    only that many embed partitions are processed before returning.
    ``fail_mode='after_data'`` kills INSIDE the crash window — after the
    partition data commits but before its lineage rows do.  Resume stays
    correct either way because partition writes are dynamic-partition
    OVERWRITES: a partition whose lineage row is missing is simply
    re-run, and the re-run replaces its directory instead of appending
    duplicates (idempotent per-partition commit).
    """
    import numpy as np

    from ..fixtures.generate import entities_to_spark
    from ..operators.ann import (
        link_ann_join,
        link_ivf_broadcast,
        train_centroids,
    )
    from .tables import TableStore

    store = TableStore(spark, out_dir)

    # ---- stage: embed (partition-granular, resumable) ----
    lineage = read_lineage(spark, out_dir)
    if lineage is not None:
        done = {
            r["part_id"]
            for r in lineage.filter(
                (F.col("stage") == "embed") & (F.col("status") == "done")
            ).select("part_id").distinct().collect()
        }
    else:
        done = set()
    # todo is taken from range(n_parts), not from the corpus: an id no
    # document hashes to yields no rows and no lineage row, so it stays
    # in todo and costs a later run nothing but the filtered scan
    todo = [p for p in range(n_parts) if p not in done]
    if fail_after_parts is not None:
        todo = todo[:fail_after_parts]
    if todo:
        spans = explode_spans(documents).withColumn(
            "part_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"),
        )
        if len(todo) < n_parts:
            spans = spans.filter(F.col("part_id").isin(todo))
        t0 = time.time()
        # cache: the expensive encode UDF feeds the mentions write, the
        # skips write and the per-partition counts — without it each of
        # them would re-run the encoder (and re-scan the corpus)
        encoded = encode_mentions(spans, cfg).persist()
        ok, skips = split_skips(encoded, keep=("part_id",))
        store.overwrite_partitions(
            ok.select("doc_id", "span_idx", "kind", "embedding", "part_id"),
            "mentions", partition_by=("part_id",),
        )
        store.overwrite_partitions(skips, "skips", partition_by=("part_id",))
        # exact per-partition counts from the cached frame both writes
        # consumed, so the written tables are never read back
        counts = encoded.groupBy("part_id").agg(
            F.count("embedding").alias("n_rows"),
            F.count_if(F.col("embedding").isNull()).alias("n_skips"),
        ).collect()
        encoded.unpersist()
        if fail_after_parts is not None and fail_mode == "after_data":
            # simulated kill inside the crash window: data committed,
            # lineage not — these partitions must re-run idempotently
            return {"out_dir": out_dir, "status": "killed"}
        wall = time.time() - t0
        now = _utcnow()
        if counts:
            _append_lineage(
                spark,
                out_dir,
                [
                    ("embed", r["part_id"], run_id, "done", r["n_rows"],
                     r["n_skips"], wall / len(counts), now)
                    for r in counts
                ],
            )

    if fail_after_parts is not None:
        return {"out_dir": out_dir, "status": "killed"}

    # ---- stage: link + triples (rebuilt from all mention partitions) ----
    t0 = time.time()
    mentions = store.read("mentions").select(
        "doc_id", "span_idx", "kind", "embedding"
    )
    emat = np.stack(entities_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=nlist, seed=cfg.seed)
    if link_strategy == "broadcast":
        # entity index fits executors (the reference's own regime) -> the
        # zero-shuffle GEMM search; 'join' = bucket equi-join for entity
        # sides too big to broadcast (identical results, tested)
        links = link_ivf_broadcast(
            mentions, entities_pdf, centroids,
            k=cfg.k, tau=cfg.tau, nprobe=nprobe,
        )
    else:
        entities = entities_to_spark(spark, entities_pdf)
        links = link_ann_join(
            mentions, entities, centroids, k=cfg.k, tau=cfg.tau,
            nprobe=nprobe,
        )
    triples = triples_from_links(links)
    store.overwrite(triples, "triples")
    n_triples = store.read("triples").count()
    _append_lineage(
        spark,
        out_dir,
        [("link", -1, run_id, "done", n_triples, 0, time.time() - t0,
          _utcnow())],
    )
    return {"out_dir": out_dir, "status": "done"}
