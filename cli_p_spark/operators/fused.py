"""Fused encode+search: one Arrow pass from spans to links, and the
engine's only IVF search UDF.

The reference encodes a query and searches the index in the same process,
back to back (query-index.py:107-111) — there is no serialization boundary
between the encoder and the index.  A modular Spark chain
(encode UDF -> link UDF) re-crosses the Python<->JVM boundary with the
embedding column in between; at 130k mentions that Arrow round trip of
array<float> costs more than all the math combined (measured ~8s vs ~1s).

This operator runs encode_batch and the IVF search (``_IvfIndex``,
f64-exact over its probed cells, so exact at nprobe >= nlist) inside
ONE mapInPandas stage: span text goes in, (entity_id, score, rank |
skip) comes out, and the vectors live only as a NumPy matrix inside the
Arrow batch.  ZERO shuffle; the vectors cross the boundary at most
once, outbound, and only when the caller asks for them
(``embeddings=True``: resume and canonicalization need the
mentions table, so run_pipeline and canonicalize persist them from the
same pass that links them).  It is the one documents -> triples kernel:
``plans.pipeline.plan_kg`` runs it, and every KG caller (run_pipeline,
``__spark_entry__.entry``, the streaming sink, canonicalize) splits
that plan's output.

Output rows: one per QUARANTINED span (entity_id NULL, skip_reason set,
-> skips) plus one per link with score >= tau (rank-1..k), plus — with
``embeddings=True`` — one MENTION row per encoded span (embedding set,
entity_id NULL).  A span that encodes fine but whose best candidate
scores below tau yields no link row — thresholded linking semantics;
reconcile span counts against links+skips+sub-tau upstream if an audit
needs all three buckets.

Without a ``content`` column the pass searches a stored ``embedding``
column, as the reference's 'i ID' query (query-index.py:86-99) does.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..config import NPROBE, PipelineConfig
from ..functions.encoder import encode_batch
from ..worker import drop_zip_finders
from .ann import _IvfIndex, _emit_topk_cand, build_ivf_broadcast_value


def encode_and_link(
    spans: DataFrame,
    entities_pdf: pd.DataFrame,
    centroids: np.ndarray,
    cfg: PipelineConfig = PipelineConfig(),
    nprobe: int = NPROBE,
    embeddings: bool = False,
) -> DataFrame:
    """spans -> link rows, in one mapInPandas pass; the input schema
    picks what is searched.

    A ``content`` column is encoded, then searched: a span that fails to
    decode yields a skip row, and ``embeddings=True`` adds an
    ``embedding`` column and one mention row per encoded span.  Without
    one, the ``embedding`` column is searched as it is (the reference's
    'i ID' query, query-index.py:86-99): a row whose embedding is NULL
    is dropped, and there are no skip or mention rows and no
    ``skip_reason`` column.  Every other input column passes through,
    with its own type, ahead of ``entity_id, score, rank``."""
    encode = "content" in spans.columns
    vec = "content" if encode else "embedding"
    spark = spans.sparkSession
    bc = spark.sparkContext.broadcast(
        build_ivf_broadcast_value(entities_pdf, centroids)
    )
    dim, seed, k, tau = cfg.dim, cfg.seed, cfg.k, cfg.tau
    keep = [f for f in spans.schema.fields if f.name != vec]
    keys = [f.name for f in keep]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in keep]
        + (["embedding array<float>"] if embeddings else [])
        + ["entity_id string, score double, rank int"]
        + (["skip_reason string"] if encode else [])
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
        drop_zip_finders()
        idx = _IvfIndex(*bc.value)
        for pdf in batches:
            base = pdf[keys].reset_index(drop=True)
            if encode:
                mat, ok = encode_batch(pdf["content"], dim=dim, seed=seed)
                # quarantined spans: explicit skip rows (-> skips table)
                if not ok.all():
                    yield rows(base[~ok].copy(), skip_reason="decode_error")
            else:
                ok = pdf["embedding"].notna().to_numpy()
            if not ok.any():
                continue
            okb = base[ok].reset_index(drop=True)
            Q = (mat[ok] if encode else
                 np.stack(pdf["embedding"].to_numpy()[ok]))
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
