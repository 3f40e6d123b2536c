"""Structured Streaming surface: incremental KG ingest.

The reference is batch+REPL; its closest streaming concern is the
documented unsafety of concurrent build/query (README.md:46-51 — stale
index reads, corruption under parallel builders).  Structured Streaming
fixes that by construction: one writer (the micro-batch sink), checkpoint
offsets for exactly-once source progress, and append-only triple output.

- ``stream_documents``: file-source document stream in the input_hint
  shape.
- ``incremental_triples``: document stream -> foreachBatch -> the SAME
  plan the batch path uses (``plans.pipeline.plan_kg``, one fused
  encode+IVF-link pass per micro-batch) -> append triples and skips.
  One code path for batch and streaming (the Kappa shape): a micro-batch
  is just a small corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..fixtures.generate import SPANS_SCHEMA


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of documents (new parquet files under input_dir
    are discovered per micro-batch; schema is the input_hint shape)."""
    return (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def incremental_triples(
    docs_stream: DataFrame,
    entities_pdf,
    centroids,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = PipelineConfig(),
):
    """Start the incremental KG ingest; returns the StreamingQuery.

    foreachBatch reuses the batch builder verbatim — streaming
    correctness therefore inherits the batch P/R gate, and the skips sink
    has the skips/ columns (doc_id, span_idx, kind, media_ref, reason)
    plus batch_id.  Source progress
    is checkpointed; the sink appends per micro-batch (idempotent replay
    of a failed batch can duplicate appended rows — at-least-once; the
    downstream exact-dedup key (subj, span_idx, pred, obj) makes the
    graph idempotent, mirroring the reference's re-ingest semantics,
    build-index.py:42-44)."""
    from ..plans.pipeline import plan_kg

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        plan = plan_kg(batch_df, entities_pdf, centroids, cfg)
        # both sinks project the fused pass: cached, it runs once a batch
        rows = plan.rows.persist()
        try:
            # part_id is the batch layout's write key, not a sink column
            for df, table in ((plan.triples, "triples"),
                              (plan.skips, "skips")):
                df.drop("part_id").withColumn("batch_id", F.lit(batch_id)) \
                    .write.mode("append").parquet(f"{out_dir}/{table}")
        finally:
            rows.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
