"""Deterministic pseudo-CLIP encoder: the shared text+media vector space.

The reference encodes images (build-index.py:46-51) and text
(query-index.py:107-108) into one L2-normalized 512-d CLIP space, so a
single inner-product index answers both modalities.  torch/CLIP are not
installed in this sandbox, so we substitute a deterministic token-hash
encoder with the *same interface and the same normalization semantics*
(including the <1e-9 zero-norm passthrough of query-index.py:13-17):

    encode(content) = l2_normalize( sum over tokens t of unit_vec(sha256(t)) )

Because the fixture generator, the Spark pandas-UDF, and the NumPy exact
oracle all call this one module, "which entity is rank-1 for this span" is
a well-defined ground truth, exactly like the reference's nprobe=nlist
exhaustive search (query-index.py:30,111).

Both modalities go through one batch entry point, `encode_batch`, which
the fused encode+search pass (operators/fused.py) and the `make_encode_udf`
pandas UDF call.  A real CLIP encoder drops in behind it without touching
the pipeline: replace its body with a torch model held in a per-executor
lazy global, keeping the (matrix, ok mask) return.

All batch entry points are NumPy-vectorized over Arrow record batches —
no per-row Python in the Spark hot path (input_hint).
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import numpy as np
import pandas as pd

from ..config import DIM, NORM_EPS, SEED
from ..worker import drop_zip_finders

_TOKEN_RE = re.compile(r"[a-z0-9]+")

# Media refs containing this marker simulate undecodable media: the encoder
# "fails" on them, and the pipeline quarantines the span into the `skips`
# table instead of aborting — reference semantics at build-index.py:53-61.
CORRUPT_MARKER = "CORRUPT"

# module-level token-vector cache (per executor process; vocabulary is tiny)
_token_cache: dict[tuple[str, int, int], np.ndarray] = {}


def tokens(content: str) -> list[str]:
    """Lowercased alphanumeric tokens (the pseudo-tokenizer).

    Stands in for clip.tokenize (query-index.py:107) / the image transform
    (build-index.py:18,47-48): both modalities reduce to a token stream.
    """
    return _TOKEN_RE.findall(content.lower())


def token_vec(token: str, dim: int = DIM, seed: int = SEED) -> np.ndarray:
    """Deterministic unit vector for a token, seeded by sha256(seed:token)."""
    key = (token, dim, seed)
    v = _token_cache.get(key)
    if v is None:
        h = hashlib.sha256(f"{seed}:{token}".encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
        v = rng.standard_normal(dim).astype(np.float64)
        n = float(np.linalg.norm(v))
        if n > NORM_EPS:
            v = v / n
        v = v.astype(np.float32)
        _token_cache[key] = v
    return v


def l2_normalize(v: np.ndarray) -> np.ndarray:
    """L2-normalize with the reference's zero-norm passthrough guard
    (query-index.py:13-17): if ||v|| < 1e-9 return v unchanged."""
    n = float(np.linalg.norm(v))
    if n < NORM_EPS:
        return v
    return (v / n).astype(np.float32)


def encode_string(content: str, dim: int = DIM, seed: int = SEED) -> np.ndarray:
    """Encode one string into the shared unit-vector space.

    Returns the zero vector for token-less content (exercises the zero-norm
    guard downstream).  Raises ValueError for 'corrupt media' content so the
    caller can quarantine (build-index.py:53-61).
    """
    if content is not None and CORRUPT_MARKER in content:
        raise ValueError(f"simulated decode failure: {content!r}")
    toks = tokens(content or "")
    if not toks:
        return np.zeros(dim, dtype=np.float32)
    acc = np.zeros(dim, dtype=np.float64)
    for t in toks:
        acc += token_vec(t, dim, seed)
    return l2_normalize(acc)


def encode_batch(
    contents: "pd.Series | list[str]", dim: int = DIM, seed: int = SEED
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized batch encode.

    Returns (matrix [n, dim] float32, ok mask [n] bool).  Rows that fail
    "decode" (corrupt media) or have no tokens get ok=False with row
    semantics: corrupt -> quarantine row (NaN-free zero vector, ok=False);
    empty -> zero vector with ok=True (the reference happily searches with
    whatever vector it got — the zero-norm guard just skips normalization).

    Vectorization strategy: tokenize per row (the only per-row Python),
    map tokens through an executor-global growing vocab matrix, then one
    gather + segmented reduceat — O(total_tokens) NumPy work per batch
    with zero per-row vector math.
    """
    if isinstance(contents, pd.Series):
        contents = contents.tolist()
    n = len(contents)
    ok = np.ones(n, dtype=bool)
    vocab = _VocabMatrix.get(dim, seed)
    vocab.maybe_flush()
    flat_idx: list[int] = []
    counts = np.zeros(n, dtype=np.int64)
    lookup = vocab.index_of
    for i, c in enumerate(contents):
        if c is not None and CORRUPT_MARKER in c:
            ok[i] = False
            continue
        tl = _TOKEN_RE.findall((c or "").lower())
        counts[i] = len(tl)
        for t in tl:
            flat_idx.append(lookup(t))
    out = np.zeros((n, dim), dtype=np.float64)
    if flat_idx:
        # the vocab matrix is float32 (token vectors are exactly f32);
        # reduceat accumulates in float64 via dtype=, which upcasts each
        # element before adding — bit-identical to gathering an f64
        # matrix, at half the gather traffic (the gathered [tokens, dim]
        # intermediate is the dominant memory cost of this function:
        # measured 1.03 s -> 0.66 s per 10k docs single-core)
        vecs = vocab.matrix[np.asarray(flat_idx, dtype=np.int64)]
        nz = np.where(counts > 0)[0]
        starts = np.zeros(len(nz), dtype=np.int64)
        np.cumsum(counts[nz][:-1], out=starts[1:])
        out[nz] = np.add.reduceat(vecs, starts, axis=0, dtype=np.float64)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    scale = np.where(norms < NORM_EPS, 1.0, norms)  # zero-norm passthrough
    return (out / scale).astype(np.float32), ok


class _VocabMatrix:
    """Executor-global growing token-vector matrix (per (dim, seed)) —
    the pandas-UDF analogue of the reference's one model load per process
    (build-index.py:17-20): token vectors are computed once per executor
    and reused across every Arrow batch.

    BOUNDED: a high-cardinality corpus (urls, ids, typo-rich web text)
    would otherwise grow the cache by dim x 4 B per distinct token until
    the worker OOMs.  At MAX_VOCAB entries the cache resets (epoch
    flush); token vectors are pure functions of (token, dim, seed), so a
    reset only costs recomputation, never correctness.

    Storage is float32: token vectors ARE exact f32 values (token_vec
    rounds to f32 before caching), and encode_batch's reduceat upcasts
    to f64 per element — summation arithmetic is unchanged while the
    matrix and the gathered per-batch intermediate halve."""

    _instances: dict[tuple[int, int], "_VocabMatrix"] = {}

    # 2^19 entries x 512-d x 4 B = 1 GiB worst case; 128 MiB at dim=64
    MAX_VOCAB = 1 << 19

    def __init__(self, dim: int, seed: int):
        self.dim, self.seed = dim, seed
        self.map: dict[str, int] = {}
        self.matrix = np.empty((256, dim), dtype=np.float32)

    @classmethod
    def get(cls, dim: int, seed: int) -> "_VocabMatrix":
        key = (dim, seed)
        inst = cls._instances.get(key)
        if inst is None:
            inst = cls._instances[key] = cls(dim, seed)
        return inst

    def maybe_flush(self) -> None:
        """Epoch flush at BATCH boundaries only — indices handed out
        within a batch must stay valid until its gather runs."""
        if len(self.map) >= self.MAX_VOCAB:
            _token_cache.clear()
            self.map = {}
            self.matrix = np.empty((256, self.dim), dtype=np.float32)

    def index_of(self, token: str) -> int:
        idx = self.map.get(token)
        if idx is None:
            idx = len(self.map)
            if idx >= len(self.matrix):
                self.matrix = np.concatenate(
                    [self.matrix, np.empty_like(self.matrix)], axis=0
                )
            self.matrix[idx] = token_vec(token, self.dim, self.seed)
            self.map[token] = idx
        return idx


# ---------------------------------------------------------------------------
# Spark pandas-UDF entry points (imported lazily so the NumPy oracle can use
# this module without a Spark install on the path).
# ---------------------------------------------------------------------------

def make_encode_udf(dim: int = DIM, seed: int = SEED):
    """Iterator-of-Series pandas UDF: content string -> array<float> | null.

    Null result = quarantined (corrupt media), mirroring the reference's
    skip-list capture (build-index.py:53-61).  Iterator form amortizes any
    per-executor setup (where a real torch model would be lazily loaded
    once, build-index.py:17-20).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def encode_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_zip_finders()
        for s in batches:
            mat, ok = encode_batch(s, dim=dim, seed=seed)
            # Series of ndarrays, not lists: Arrow converts a float32
            # ndarray row ~10x cheaper than 64 boxed Python floats
            rows = list(mat)
            out = pd.Series(rows, index=s.index, dtype=object)
            if not ok.all():
                out[~ok] = None
            yield out

    return encode_udf
