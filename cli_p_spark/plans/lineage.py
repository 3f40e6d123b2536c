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
test_resume's after_data kill).

One Python pass per span.  The embed stage is a single cached
mapInPandas (operators/fused.py) that encodes each span and searches
the broadcast IVF index in the same Arrow batch, as the reference
encodes a query and searches in one process (query-index.py:107-111).
It emits mention rows (with the embedding), skip rows and link rows;
the mentions write, the skips write, one groupBy(part_id) for the
lineage counts and the triples write all consume that cache, so the
embeddings cross the Python<->JVM boundary once, outbound, and no
written table is read back (and a skips write with no skipped span is
not run).  The pass's input is placed by part_id (repartitionById):
each task holds whole partitions, so a run writes one file per
partition directory (round-robin input made every task write into every
directory).  Triples = the fused links of this run's partitions union a
disk relink (link_ivf_broadcast over mentions/) of the partitions
earlier runs finished — empty on a fresh run.  The link lineage row's
n_rows is counted by an Observation on the triples write.

Bookkeeping stays off the data path.  The corpus is scanned once: there
is no pre-pass for the partition ids present (an id no document hashes
to yields no rows and no lineage).  Lineage rows commit from a
driver-local Arrow table, not as pickled rows through a Python RDD.  An
embed row's ``wall_s`` is still the stage wall divided by the
partitions it wrote: an average, not a per-partition measurement.

part_id = pmod(xxhash64(doc_id), n_parts): deterministic, independent of
input order and cluster size — a resume on a different cluster still
skips the right work.
"""

from __future__ import annotations

import datetime
import functools
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
# encode_mentions is not called here since the fused embed pass replaced
# it, but perfbench's traced kg pass still looks it up on this module
from .pipeline import (  # noqa: F401
    encode_mentions,
    explode_spans,
    triples_from_links,
    with_content,
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
) -> dict:
    """Execute (or resume) the KG pipeline into ``out_dir``.

    Returns ``status`` ('done' or 'killed') and ``out_dir``; a finished
    run also returns ``n_triples``, the row count of its triples write.

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
    from pyspark.sql import Observation

    from ..operators.ann import link_ivf_broadcast, train_centroids
    from ..operators.fused import encode_and_link
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
    t0 = time.time()
    # the index both link sources search: the fused pass over this run's
    # partitions and the disk relink of earlier runs' partitions
    centroids = train_centroids(
        np.stack(entities_pdf["embedding"].to_numpy()), nlist=nlist,
        seed=cfg.seed,
    )
    embedded = None
    if todo:
        spans = explode_spans(documents).withColumn(
            "part_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"),
        )
        if len(todo) < n_parts:
            spans = spans.filter(F.col("part_id").isin(todo))
        # each task holds whole part_ids, so every partition directory gets
        # one file (round-robin input had every task write into every
        # directory).  Direct placement by the id's slot in todo: hash
        # partitioning a few small ints collides and leaves tasks empty,
        # and range partitioning samples its input in an extra scan
        if len(todo) == n_parts:
            slot = F.col("part_id")
        else:
            slot = F.array_position(
                F.array(*map(F.lit, todo)), F.col("part_id")) - 1
        spans = with_content(spans).select(
            "doc_id", "span_idx", "kind", "content", "media_ref", "part_id"
        ).repartitionById(
            min(cfg.embed_partitions, len(todo)), slot.cast("int"))
        # one Python pass encodes and links each span; cached because it
        # feeds the mentions write, the skips write, the per-partition
        # counts and the triples write, none of which reads a table back
        embedded = encode_and_link(
            spans, entities_pdf, centroids, cfg, nprobe,
            keep=("media_ref", "part_id"), embeddings=True,
        ).persist()
        store.overwrite_partitions(
            embedded.filter(F.col("embedding").isNotNull()).select(
                "doc_id", "span_idx", "kind", "embedding", "part_id"),
            "mentions", partition_by=("part_id",),
        )
        counts = embedded.groupBy("part_id").agg(
            F.count("embedding").alias("n_rows"),
            F.count("skip_reason").alias("n_skips"),
        ).collect()
        # a write of no rows would still run a job over the whole cache
        if any(r["n_skips"] for r in counts):
            store.overwrite_partitions(
                embedded.filter(F.col("skip_reason").isNotNull()).select(
                    "doc_id", "span_idx", "kind", "media_ref",
                    F.col("skip_reason").alias("reason"), "part_id"),
                "skips", partition_by=("part_id",),
            )
        if fail_after_parts is not None:
            embedded.unpersist()  # a killed run writes no triples
            if fail_mode == "after_data":
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

    # ---- stage: link + triples ----
    # this run's partitions link in the fused pass; partitions finished
    # by earlier runs relink from their mentions on disk
    t0 = time.time()
    sources = []
    if embedded is not None:
        sources.append(embedded.filter(F.col("entity_id").isNotNull()))
    mentions = store.read("mentions") if done else None
    if mentions is not None:
        sources.append(link_ivf_broadcast(
            mentions.filter(F.col("part_id").isin(sorted(done))).select(
                "doc_id", "span_idx", "kind", "embedding"),
            entities_pdf, centroids, k=cfg.k, tau=cfg.tau, nprobe=nprobe,
        ))
    links = functools.reduce(DataFrame.unionByName, [
        df.select("doc_id", "span_idx", "kind", "entity_id", "score", "rank")
        for df in sources
    ])
    observed = Observation()
    store.overwrite(
        triples_from_links(links).observe(
            observed, F.count(F.lit(1)).alias("n")),
        "triples",
    )
    n_triples = observed.get["n"]
    if embedded is not None:
        embedded.unpersist()
    _append_lineage(
        spark,
        out_dir,
        [("link", -1, run_id, "done", n_triples, 0, time.time() - t0,
          _utcnow())],
    )
    return {"out_dir": out_dir, "status": "done", "n_triples": n_triples}
