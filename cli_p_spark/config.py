"""Engine-wide constants.

Mirrors the reference's in-code constants (dim=512 at
build-index.py:77,81; nlist=100 / nprobe=32 at build-index.py:81,
query-index.py:30) but makes them configurable.  Tests use DIM=64 to
match the driver-provided ``embeddings`` table; the real-encoder
deployment flips DIM to 512.
"""

from __future__ import annotations

from dataclasses import dataclass

SEED = 42

# Embedding dimension. Reference: 512 (CLIP ViT-B/32). Tests: 64.
DIM = 64

# Zero-norm guard threshold, verbatim from /root/reference/query-index.py:14-16.
NORM_EPS = 1e-9

# Linking: emit a triple only if cosine(mention, entity) >= TAU.
# The reference emits unthresholded ranked lists (query-index.py:114-119);
# the KG pipeline thresholds rank-1 links so junk spans produce no edge.
TAU = 0.40

# Canonicalization: mention-mention similarity cutoff for CC edges.
TAU_CC = 0.90

# ANN recall knobs (operators/ann.py): IVF-style cells trained on the
# index — the reference's nlist/nprobe (build-index.py:81,
# query-index.py:30,48-54).  Banded-LSH knobs for near-dup live with
# their operators (operators/dedup.py).
NLIST = 100
NPROBE = 32


@dataclass(frozen=True)
class PipelineConfig:
    dim: int = DIM
    seed: int = SEED
    tau: float = TAU
    tau_cc: float = TAU_CC
    k: int = 1  # rank-1 linking for triples
    # explicit repartition width before the embedding stage (north_rule)
    embed_partitions: int = 32
