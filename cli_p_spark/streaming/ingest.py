"""Structured Streaming surface: incremental KG ingest + event analytics.

The reference is batch+REPL; its closest streaming concern is the
documented unsafety of concurrent build/query (README.md:46-51 — stale
index reads, corruption under parallel builders).  Structured Streaming
fixes that by construction: one writer (the micro-batch sink), checkpoint
offsets for exactly-once source progress, and append-only triple output.

Three building blocks:

- ``incremental_triples``: file-source document stream -> foreachBatch ->
  the SAME plan the batch path uses (``plans.pipeline.plan_kg``,
  one fused encode+IVF-link pass) -> append triples and skips.  One code
  path for batch and streaming (the Kappa shape): a micro-batch is just a
  small corpus.
- ``windowed_event_counts``: event-time tumbling window + watermark —
  late rows beyond the watermark are dropped by the engine (the
  watermark/late-data checklist item).
- ``stream_dedup``: dropDuplicatesWithinWatermark on a content key —
  streaming exact-dedup with bounded state, the streaming twin of
  operators/dedup.exact_dedup.
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
    nprobe: int = 32,
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
        plan = plan_kg(batch_df, entities_pdf, centroids, cfg, nprobe=nprobe)
        # part_id is the batch layout's write key, not a sink column
        for df, table in ((plan.triples, "triples"), (plan.skips, "skips")):
            df.drop("part_id").withColumn("batch_id", F.lit(batch_id)) \
                .write.mode("append").parquet(f"{out_dir}/{table}")

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data handling:
    rows later than the watermark are dropped, window state is evicted
    once the watermark passes (bounded state at unbounded input)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def enrich_stream(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    small static dimension, broadcast (the standard event-pipeline
    enrichment shape).  Stateless — no watermark needed; the static side
    is re-planned per micro-batch, so a refreshed dimension table is
    picked up without restarting the query."""
    return stream_df.join(F.broadcast(dim_df), on, how)


def stream_dedup(
    docs_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact-dedup: first occurrence of each content hash wins;
    duplicate arrivals within the watermark horizon are dropped with
    bounded state (dropDuplicatesWithinWatermark)."""
    keyed = docs_stream.withColumn(
        "content_hash", F.md5(F.to_json(F.col("spans")))
    )
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def incremental_dedup_stream(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
):
    """Continuous near-dedup-index maintenance; returns the
    StreamingQuery.  Each micro-batch is signed once, LSH-paired
    against the ACCUMULATED signature/band index via
    `incremental_lsh_pairs` (join volume tracks the batch, not the
    10^12-doc corpus), and then appended to the index so the next
    batch sees it.  Pairs land in `{index_dir}/pairs` tagged with the
    batch id — at-least-once like incremental_triples (idempotent
    replay can duplicate a batch's pair rows; (src, dst) is the
    downstream dedup key).  The stored tables are exactly the
    `sigs` (_id, _sig) and `bands` (_id, _bucket) relations the batch
    operator documents — a killed stream resumes from the source
    checkpoint and the index keeps only COMMITTED batches."""
    from ..operators.dedup import (
        incremental_lsh_pairs,
        minhash_signatures,
    )

    spark = docs_stream.sparkSession
    sig_schema = "_id string, _sig array<bigint>"

    def _read_if_exists(path: str):
        """None iff the path does not exist.  Any OTHER read failure
        (transient FS error, corrupt footer) must PROPAGATE — foreachBatch
        then fails the batch and the checkpoint replays it; treating it
        as 'empty index' would silently drop every cross-corpus pair of
        this batch while still committing its sigs (unrecoverable)."""
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        return spark.read.parquet(path)

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        sig = minhash_signatures(
            batch_df, content_col, id_col, n_hashes=n_hashes
        ).persist()
        corpus_sig = _read_if_exists(f"{index_dir}/sigs")
        if corpus_sig is None:  # first batch: empty index
            corpus_sig = spark.createDataFrame([], sig_schema)
            corpus_bands = None
        else:
            # bands absent with sigs present (prior run died between the
            # two appends): re-derive bands from the signatures —
            # corpus_bands=None triggers exactly that inside the operator
            corpus_bands = _read_if_exists(f"{index_dir}/bands")
        pairs = incremental_lsh_pairs(
            sig, corpus_sig, corpus_bands=corpus_bands,
            n_hashes=n_hashes, bands=bands,
            jaccard_threshold=jaccard_threshold, max_bucket=max_bucket,
        )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(f"{index_dir}/pairs")
        )
        # index append AFTER the pairs commit: a replayed batch re-pairs
        # against an index that may already contain it — self-pairs are
        # filtered inside the operator on BOTH candidate paths (the cross
        # join and the oversized-bucket star both drop src == dst), and
        # re-paired cross edges reuse the same (src,dst) key — and the
        # ordering never MISSES a prior batch
        sig.write.mode("append").parquet(f"{index_dir}/sigs")
        # the persisted band rows the operator already computed — the
        # documented .band_rows hand-off, not a second banding pass
        pairs.band_rows.write.mode("append").parquet(f"{index_dir}/bands")
        pairs.signature_cache.unpersist()
        sig.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
