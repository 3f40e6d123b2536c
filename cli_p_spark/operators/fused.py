"""Fused encode+search: one Arrow pass from spans to links.

The reference encodes a query and searches the index in the same process,
back to back (query-index.py:107-111) — there is no serialization boundary
between the encoder and the index.  A modular Spark chain
(encode UDF -> link UDF) re-crosses the Python<->JVM boundary with the
embedding column in between; at 130k mentions that Arrow round trip of
array<float> costs more than all the math combined (measured ~8s vs ~1s).

This operator runs encode_batch and the IVF search inside ONE mapInPandas
stage: span text goes in, (entity_id, score, rank | skip) comes out, and
the vectors live only as a NumPy matrix inside the Arrow batch.  ZERO
shuffle; the vectors cross the boundary at most once, outbound, and only
when the caller asks for them (``embeddings=True``: resume and
canonicalization need the mentions table, so run_pipeline persists them
from the same pass that links them).

Output rows: one per QUARANTINED span (entity_id NULL, skip_reason set,
-> skips) plus one per link with score >= tau (rank-1..k), plus — with
``embeddings=True`` — one MENTION row per encoded span (embedding set,
entity_id NULL).  A span that encodes fine but whose best candidate
scores below tau yields no link row — thresholded linking semantics;
reconcile span counts against links+skips+sub-tau upstream if an audit
needs all three buckets.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.encoder import encode_batch
from .ann import _IvfIndex, _emit_topk_cand, build_ivf_broadcast_value

# output schema: the span keys, then the ``keep`` columns and (optional)
# embedding, then the link/skip columns
_KEY_SCHEMA = "doc_id string, span_idx int, kind string"
_LINK_SCHEMA = "entity_id string, score double, rank int, skip_reason string"


def encode_and_link(
    spans: DataFrame,
    entities_pdf: pd.DataFrame,
    centroids: np.ndarray,
    cfg: PipelineConfig = PipelineConfig(),
    nprobe: int = 32,
    keep: tuple[str, ...] = (),
    embeddings: bool = False,
) -> DataFrame:
    """spans(doc_id, span_idx, kind, content, *keep) -> fused rows.

    ``keep`` names extra span columns every output row carries (e.g. the
    partition id it is written under).  ``embeddings=True`` adds an
    ``embedding`` column and one mention row per encoded span."""
    spark = spans.sparkSession
    bc = spark.sparkContext.broadcast(
        build_ivf_broadcast_value(entities_pdf, centroids)
    )
    dim, seed, k, tau = cfg.dim, cfg.seed, cfg.k, cfg.tau
    keys = ["doc_id", "span_idx", "kind", *keep]
    types = {f.name: f.dataType.simpleString() for f in spans.schema.fields}
    schema = ", ".join(
        [_KEY_SCHEMA, *(f"{c} {types[c]}" for c in keep)]
        + (["embedding array<float>"] if embeddings else [])
        + [_LINK_SCHEMA]
    )
    cols = [f.split()[0] for f in schema.split(", ")]

    def rows(frame: pd.DataFrame, **vals) -> pd.DataFrame:
        # one row kind: the given columns set, every other one NULL
        n = len(frame)
        for c in cols[len(keys):]:
            if c in vals:
                frame[c] = vals[c]
            elif c not in frame:
                frame[c] = (pd.array([None] * n, dtype="Int32")
                            if c == "rank" else
                            np.nan if c == "score" else None)
        return frame[cols]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = _IvfIndex.from_broadcast(bc.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat, ok = encode_batch(pdf["content"], dim=dim, seed=seed)
            base = pdf[keys].reset_index(drop=True)
            # quarantined spans: explicit skip rows (-> skips table)
            if not ok.all():
                yield rows(base[~ok].copy(), skip_reason="decode_error")
            if ok.any():
                okb = base[ok].reset_index(drop=True)
                Q = mat[ok]
                if embeddings:
                    # Series of ndarrays: Arrow converts a float32 row
                    # ~10x cheaper than a list of boxed Python floats
                    yield rows(okb.copy(),
                               embedding=pd.Series(list(Q), dtype=object))
                cand, sc64 = idx.search(Q, k, nprobe)
                for out in _emit_topk_cand(
                    okb, keys, cand, sc64, idx.eids, k, tau,
                ):
                    yield rows(out)

    return spans.mapInPandas(run, schema=schema)


def fused_triples(
    documents: DataFrame,
    entities_pdf: pd.DataFrame,
    centroids: np.ndarray,
    cfg: PipelineConfig = PipelineConfig(),
    nprobe: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """documents -> (triples, skips) through the fused path."""
    from ..plans.pipeline import (
        explode_spans,
        triples_from_links,
        with_content,
    )

    spans = (
        with_content(explode_spans(documents))
        .repartition(cfg.embed_partitions)
        .select("doc_id", "span_idx", "kind", "content")
    )
    out = encode_and_link(spans, entities_pdf, centroids, cfg, nprobe)
    links = out.filter(F.col("entity_id").isNotNull())
    skips = out.filter(F.col("skip_reason").isNotNull()).select(
        "doc_id", "span_idx", "kind", "skip_reason"
    )
    return triples_from_links(links), skips
