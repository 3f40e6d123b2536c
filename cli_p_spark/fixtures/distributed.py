"""Distributed deterministic corpus generator.

The pandas generator in generate.py is driver-side — fine for golden-oracle
fixtures (hundreds of docs), a non-starter for bench corpora (10^5+) and a
contradiction at 10^12-doc scale.  This generator runs inside mapInPandas
over spark.range(n_docs): each doc's content is a pure function of
(seed, doc_id), so the corpus is identical for any partitioning, any
cluster size, any generation order — the property that makes the two-
parallelism scaling benchmark an apples-to-apples comparison.

Entity names ride in via a broadcast (the entity table is the small side,
exactly like the linking index).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from ..config import SEED
from ..worker import drop_zip_finders
from .generate import SPANS_SCHEMA, vocabulary


def distributed_documents(
    spark,
    n_docs: int,
    entities_pdf: pd.DataFrame,
    seed: int = SEED,
    partitions: int | None = None,
):
    """documents(doc_id, spans) DataFrame, deterministic in (seed, doc_id)."""
    vocab = np.array(vocabulary(seed=seed))
    ent_names = entities_pdf["name"].to_numpy()
    n_hubs = max(1, int(entities_pdf["is_hub"].sum()))
    bc = spark.sparkContext.broadcast((vocab, ent_names, n_hubs))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        vocab_b, names_b, n_hubs_b = bc.value
        n_ents = len(names_b)
        for pdf in batches:
            out_ids, out_spans = [], []
            for d in pdf["id"].to_numpy():
                rng = np.random.default_rng((seed << 32) ^ int(d))
                doc_id = f"doc{d:08d}"
                n_spans = int(rng.integers(1, 13))
                spans = []
                offset = 0
                for _ in range(n_spans):
                    kind = "text" if rng.random() < 0.70 else "image"
                    if rng.random() < 0.80:
                        if rng.random() < 0.30:
                            ent = names_b[int(rng.integers(0, n_hubs_b))]
                        else:
                            ent = names_b[int(rng.integers(0, n_ents))]
                    else:
                        ent = None
                    if kind == "text":
                        words = list(
                            vocab_b[rng.integers(0, len(vocab_b),
                                                 int(rng.integers(3, 9)))]
                        )
                        if ent is not None:
                            pos = int(rng.integers(0, len(words) + 1))
                            words = words[:pos] + ent.split() + words[pos:]
                        text, media_ref = " ".join(words), ""
                    else:
                        text = ""
                        base = (
                            "/".join(ent.split()) if ent is not None
                            else "noise"
                        )
                        media_ref = f"img://{base}/{int(rng.integers(16**6)):06x}"
                    spans.append((kind, text, media_ref, offset))
                    offset += max(len(text), len(media_ref)) + 1
                out_ids.append(doc_id)
                out_spans.append(spans)
            yield pd.DataFrame({"doc_id": out_ids, "spans": out_spans})

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    rng_df = spark.range(0, n_docs, numPartitions=parts)
    return rng_df.mapInPandas(gen, schema=SPANS_SCHEMA)


def distributed_mentions(
    spark,
    n_mentions: int,
    dim: int = 64,
    n_groups: int = 256,
    cluster_w: int = 4,
    dup_frac: float = 0.3,
    hub_copies: int = 20_000,
    jitter: float = 0.02,
    seed: int = SEED,
    partitions: int | None = None,
):
    """mentions(mention_id string, grp int, embedding array<float>) for
    the sharded-canonicalization benchmark — deterministic in
    (seed, mention id), any partitioning.

    Structure: ids [0, hub_copies) are EXACT copies of ONE hub vector
    (the 10^9-copy boilerplate regime: identical vectors collide in
    every band, the bucket blows past max_bucket, and the LSH star cap
    + the CC map-side partial min must keep the component linear).  Remaining
    ids form
    ``cluster_w``-sized clusters; a ``dup_frac`` fraction of clusters
    are true near-dup cliques (members = base + jitter), the rest get
    independent random vectors (no pairs).  ``grp`` is the entity-
    neighborhood shard (SCALE.md stage-3 sharding): cluster-aligned, so
    within-group banding loses no true pairs."""
    bc = spark.sparkContext.broadcast((dim, n_groups, cluster_w, dup_frac,
                                       hub_copies, jitter, seed))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        d_, ng_, cw_, df_, hub_, jit_, seed_ = bc.value
        hub_base = np.random.default_rng(
            (seed_ << 32) ^ 0x4B1D
        ).standard_normal(d_)
        cluster_base: dict[int, tuple[bool, np.ndarray]] = {}
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = np.empty((len(ids), d_), dtype=np.float64)
            grps = np.empty(len(ids), dtype=np.int32)
            for j, m in enumerate(ids):
                m = int(m)
                mrng = np.random.default_rng((seed_ << 32) ^ (m * 2 + 1))
                if m < hub_:
                    grps[j] = 0
                    vecs[j] = hub_base / np.linalg.norm(hub_base)
                    continue
                else:
                    c = m // cw_
                    if c not in cluster_base:
                        # bound worker memory: evict BEFORE inserting, so
                        # the entry just added survives for the lookup
                        # below (clearing after insert KeyErrors once a
                        # partition sees >100k distinct clusters);
                        # regeneration is deterministic, values unchanged
                        if len(cluster_base) > 100_000:
                            cluster_base.clear()
                        crng = np.random.default_rng(
                            (seed_ << 32) ^ (c * 2654435761)
                        )
                        cluster_base[c] = (
                            crng.random() < df_, crng.standard_normal(d_)
                        )
                    is_dup, base = cluster_base[c]
                    grps[j] = c % ng_
                v = base + jit_ * mrng.standard_normal(d_) if is_dup \
                    else mrng.standard_normal(d_)
                vecs[j] = v / np.linalg.norm(v)
            yield pd.DataFrame({
                "mention_id": [f"m{int(m):09d}" for m in ids],
                "grp": grps,
                "embedding": list(vecs.astype(np.float32)),
            })

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    rng_df = spark.range(0, n_mentions, numPartitions=parts)
    return rng_df.mapInPandas(
        gen, schema="mention_id string, grp int, embedding array<float>"
    )
