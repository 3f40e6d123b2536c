"""Checkpointed, resumable pipeline runs with per-partition lineage.

Generalizes the reference's resumability devices — the fn_db/skip_db
presence checks that make build-index.py idempotent (build-index.py:36-44,
59-61) and the per-query timing print (query-index.py:110-113) — to
partition granularity.  The north_rule asks that "every stage writes
per-partition lineage + metrics and commits checkpoints so a killed run
resumes at partition granularity"; here a resume skips the partitions
an earlier FINISHED run committed.  A run commits its lineage rows once,
after all of its writes, so a run killed before that commit keeps none
of its partitions (the reference keeps every file it embedded,
build-index.py:42-44).

Layout under ``out_dir``:

    mentions/part_id=N/...   embedding-stage output, one dir per partition
    skips/part_id=N/...      quarantined spans, same partitioning
    triples/part_id=N/...    the partition's links, same partitioning
    lineage/                 one row per (part_id, run_id): counts
                             (n_rows, n_skips, n_links), wall seconds,
                             timestamp, status and the run's config

Resume protocol (the expensive stage is encode — that is what must not
recompute): a partition is DONE iff a lineage row (stage='embed',
part_id, status='done') exists.  A resumed run encodes only the spans of
not-done partition ids (exactly the reference's fn_db check,
build-index.py:42-44, lifted from per-file to per-partition) and
dynamic-partition-OVERWRITES their mentions/, skips/ and triples/
directories: all three commit before lineage, so a kill between the two
leaves partitions unmarked — the resume re-runs them and the overwrite
replaces (never duplicates) their rows.  Idempotent per-partition
commit, no write-ordering race.  With no lineage at all nothing is
committed, so a run first drops the three tables: rows a killed run
left under another n_parts could sit in a partition this run never
rewrites.
A finished partition already holds its triples, so a resume relinks
nothing; ``n_triples`` is the sum of ``n_links`` over every done
partition.  The links of partitions written under another n_parts, dim,
seed, k, tau, nlist, nprobe or entity table would not mix with this
run's, so every lineage row stores that config (the entity table as an
order-independent digest of its ids and float32 vectors) and a resume
under a different one raises ValueError before it writes anything.

One Python pass per span: ``plan_kg`` (plans/pipeline.py), a single
mapInPandas (operators/fused.py) that encodes each span and searches
the broadcast IVF index in the same Arrow batch, as the reference
encodes a query and searches in one process (query-index.py:107-111).
It emits mention rows (with the embedding), skip rows and link rows and
is cached; the mentions write, one groupBy(part_id) for the lineage
counts, the skips write and the triples write all consume that cache, so
the embeddings cross the Python<->JVM boundary once, outbound, and no
written table is read back (a skips or triples write with no row is not
run).  The pass's input is placed by part_id (repartitionById): each
task holds whole partitions, so a run writes one file per partition
directory.

Bookkeeping stays off the data path.  The corpus is scanned once: there
is no pre-pass for the partition ids present (an id no document hashes
to yields no rows and no lineage).  A run's lineage rows commit once,
from a local Arrow table, not as pickled rows through a Python RDD.  A
row's ``wall_s`` is still the stage wall divided by the partitions it
wrote: an average, not a per-partition measurement.

part_id = pmod(xxhash64(doc_id), n_parts): deterministic, independent of
input order and cluster size — a resume on a different cluster still
skips the right work.
"""

from __future__ import annotations

import datetime
import hashlib
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import NLIST, NPROBE, PipelineConfig
# encode_mentions and explode_spans are not called here since plan_kg
# replaced them, but perfbench's traced kg pass still looks them up on
# this module; the re-export goes, with the ann.link_ivf_broadcast
# shim, once perfbench names encode_and_link instead
from .pipeline import encode_mentions, explode_spans, plan_kg  # noqa: F401

LINEAGE_SCHEMA = (
    "stage string, part_id int, run_id string, status string, "
    "n_rows long, n_skips long, n_links long, wall_s double, ts timestamp, "
    "config string"
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


def _entities_digest(entity_ids, emat: np.ndarray) -> str:
    """Digest of the (entity_id, float32 vector) rows, whatever their
    order: the sorted row hashes, hashed."""
    rows = sorted(
        hashlib.blake2b(f"{e}\0".encode() + v.tobytes(), digest_size=16)
        .digest() for e, v in zip(entity_ids, emat.astype(np.float32)))
    return hashlib.blake2b(b"".join(rows), digest_size=16).hexdigest()


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    entities_pdf,
    out_dir: str,
    cfg: PipelineConfig = PipelineConfig(),
    run_id: str = "run0",
    n_parts: int = 16,
    nlist: int = NLIST,
    nprobe: int = NPROBE,
) -> dict:
    """Execute (or resume) the KG pipeline into ``out_dir``.

    Returns ``status`` ('done'), ``out_dir`` and ``n_triples``, the links
    of every done partition.  A resume under a config other than the one
    ``out_dir`` was started with, an ``n_parts``, ``nlist``, ``nprobe``,
    ``cfg.k`` or ``cfg.embed_partitions`` below 1, or an empty entity
    table raises ValueError before anything is written.
    """
    import json

    from ..operators.ann import train_centroids
    from .tables import TableStore

    # checked before the stale-table drop below: under 1, n_parts and
    # nprobe plan no work yet report "done", k commits a "done" run with
    # no links, and nlist, embed_partitions or an empty entity table
    # fails mid-run
    for name, value in (("n_parts", n_parts), ("nlist", nlist),
                        ("nprobe", nprobe), ("k", cfg.k),
                        ("embed_partitions", cfg.embed_partitions)):
        if value < 1:
            raise ValueError(f"{name} must be >= 1, got {value}")
    if not len(entities_pdf):
        raise ValueError("the entity table is empty")
    emat = np.stack(entities_pdf["embedding"].to_numpy())
    store = TableStore(spark, out_dir)
    config = json.dumps({
        "n_parts": n_parts, "dim": cfg.dim, "seed": cfg.seed, "k": cfg.k,
        "tau": cfg.tau, "nlist": nlist, "nprobe": nprobe,
        "entities": _entities_digest(entities_pdf["entity_id"], emat),
    }, sort_keys=True)

    lineage = read_lineage(spark, out_dir)
    links = {}  # part_id -> n_links of every done partition
    if lineage is not None:
        done = lineage.filter(
            (F.col("stage") == "embed") & (F.col("status") == "done")
        ).select("part_id", "n_links", "config").collect()
        stored = {r["config"] for r in done}
        if stored - {config}:
            raise ValueError(
                f"{out_dir} was started with config {sorted(stored)}; "
                f"this run's is {config}: resume with the same n_parts, "
                "dim, seed, k, tau, nlist, nprobe and entity table, or use "
                "a new output")
        links = {r["part_id"]: r["n_links"] for r in done}
    else:
        # nothing is committed, so any rows here were left by a run killed
        # before its lineage commit, under a config that cannot be checked:
        # a partition this run does not rewrite would keep them
        for table in ("mentions", "skips", "triples"):
            store.drop(table)
    # todo is taken from range(n_parts), not from the corpus: an id no
    # document hashes to yields no rows and no lineage row, so it stays
    # in todo and costs a later run nothing but the filtered scan
    todo = [p for p in range(n_parts) if p not in links]
    if todo:
        t0 = time.time()
        centroids = train_centroids(emat, nlist=nlist, seed=cfg.seed)
        # cached: the mentions write, the per-partition counts, the skips
        # write and the triples write all consume it, none reads a table
        # back
        plan = plan_kg(documents, entities_pdf, centroids, cfg, nprobe,
                       n_parts=n_parts, todo=todo, embeddings=True)
        rows = plan.rows.persist()
        store.overwrite_partitions(
            plan.mentions, "mentions", partition_by=("part_id",))
        counts = rows.groupBy("part_id").agg(
            F.count("embedding").alias("n_rows"),
            F.count("skip_reason").alias("n_skips"),
            F.count("entity_id").alias("n_links"),
        ).collect()
        # a write of no rows would still run a job over the whole cache
        for df, table, n in ((plan.skips, "skips", "n_skips"),
                             (plan.triples, "triples", "n_links")):
            if any(r[n] for r in counts):
                store.overwrite_partitions(df, table, partition_by=("part_id",))
        rows.unpersist()
        wall, now = time.time() - t0, _utcnow()
        if counts:
            _append_lineage(spark, out_dir, [
                ("embed", r["part_id"], run_id, "done", r["n_rows"],
                 r["n_skips"], r["n_links"], wall / len(counts), now, config)
                for r in counts
            ])
        links.update((r["part_id"], r["n_links"]) for r in counts)
    return {"out_dir": out_dir, "status": "done",
            "n_triples": sum(links.values())}
