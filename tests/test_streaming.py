"""Structured Streaming: incremental KG ingest equals the batch result,
one fused encode+link pass per micro-batch."""

import numpy as np

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import documents_to_spark
from cli_p_spark.operators.ann import train_centroids
from cli_p_spark.plans import pipeline
from cli_p_spark.plans.pipeline import plan_kg
from cli_p_spark.streaming.ingest import (
    incremental_triples,
    stream_documents,
)


def _rows(df, *cols):
    return sorted(map(tuple, df.select(*cols).collect()))


TRIPLE = ("subj", "span_idx", "pred", "obj")
SKIP = ("doc_id", "span_idx", "kind", "media_ref", "reason")


def test_incremental_equals_batch(spark, corpus_small, tmp_path, monkeypatch):
    """Stream the corpus as two file drops; the accumulated triples and
    skips must equal one batch run over the whole corpus, and each
    micro-batch must run the fused pass once: the rows it emits across
    the stream add up to one batch pass over the corpus, not two."""
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=100, seed=cfg.seed)

    in_dir = str(tmp_path / "in")
    half = len(docs_pdf) // 2
    documents_to_spark(spark, docs_pdf.iloc[:half]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    documents_to_spark(spark, docs_pdf.iloc[half:]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    fused_rows = spark.sparkContext.accumulator(0)
    encode_and_link = pipeline.encode_and_link

    def counted(*args, **kwargs):
        out = encode_and_link(*args, **kwargs)

        def tally(batches):
            for b in batches:
                fused_rows.add(len(b))
                yield b

        return out.mapInPandas(tally, out.schema)

    monkeypatch.setattr(pipeline, "encode_and_link", counted)
    out_dir = str(tmp_path / "out")
    q = incremental_triples(
        stream_documents(spark, in_dir),
        ents_pdf,
        centroids,
        out_dir,
        str(tmp_path / "ckpt"),
        cfg,
    )
    q.awaitTermination(120)
    monkeypatch.undo()

    batch = plan_kg(documents_to_spark(spark, docs_pdf), ents_pdf,
                    centroids, cfg)
    rows = batch.rows.persist()
    try:
        assert fused_rows.value == rows.count()
        want_skips = _rows(batch.skips, *SKIP)
        assert want_skips  # the corpus quarantines some spans
        assert _rows(spark.read.parquet(f"{out_dir}/skips"),
                     *SKIP) == want_skips
        assert _rows(spark.read.parquet(f"{out_dir}/triples"),
                     *TRIPLE) == _rows(batch.triples, *TRIPLE)
    finally:
        rows.unpersist()
