"""Product-quantization (PQ) preselect: linking when the index is too big
to broadcast even in f16.

PQ (Jégou et al., TPAMI'11 — the same family faiss couples with IVF in
IndexIVFPQ, the structure the reference's index family points at,
build-index.py:80-81) compresses each d-dim vector into M uint8 codes:
split the dimension into M subspaces, k-means 256 centroids per subspace,
store the per-subspace code.  At 512-d with M=32 the index shrinks 64x
(10^7 x 512 x 4B = 20 GB -> 320 MB of codes + 1 MB of codebooks), which
broadcasts comfortably.

Search is asymmetric distance: a query builds an [M, 256] lookup table of
subspace dot products, and a candidate's approximate score is the sum of
M table lookups.  Two scan strategies, both bounded-memory:

- flat (``centroids=None``): E-blocked LUT accumulation with a running
  per-query top-kc — peak intermediate [n_q, block], never [n_q, E]
  (the round-1 dense-scores cliff: 80 GB per batch at E=10^7).
- IVF-PQ (``centroids`` given): codes stored cell-grouped (CSR, like
  faiss IndexIVFPQ's inverted lists); queries probe nprobe cells and
  only those cells' codes are gathered — nprobe prunes compute.  By
  default we PQ the raw vectors; ``residual=True`` switches to faiss
  IndexIVFPQ's actual refinement — encode r = x - centroid(x) and score
  q·x = q·centroid + LUT(q)·codes(r) (the q·centroid term falls out of
  the probe GEMM for free).  Residuals are much smaller than the
  vectors, so the same 256-way codebooks quantize them finer — the knob
  that buys preselect recall at tight kc (gated in tests/test_pq.py).

The top-kc preselected candidates are then rescored EXACTLY against the
full-precision entity table via an equi-join (the vectors never need to
be broadcast), so final ranking quality is bounded by preselect recall,
not PQ error.

Plan shape:

    mentions --mapInPandas PQ preselect--> (mention, candidate entity ids)
             --join entity table on entity_id-->  exact cosine (zip_with)
             --per-mention top-k window--> links

Two shuffles (candidate join + window), both on id-width rows.  The
crossover vs the dense GEMM broadcast: PQ wins once E x dim x 4B
outgrows executor memory; below that the sgemm path is faster (BLAS beats
gather-sums).  Measured on fixtures in tests/test_pq.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SEED
from ..worker import drop_zip_finders
from .link import _entity_arrays, cosine_expr
from .topk import topk_per_group


def train_pq(
    X: np.ndarray, m_subspaces: int = 8, n_codes: int = 256,
    iters: int = 10, seed: int = SEED, max_train: int = 50_000,
) -> np.ndarray:
    """Codebooks [M, n_codes, d/M] via per-subspace k-means (seeded,
    deterministic, sample-trained — the reference's train-once device)."""
    X = np.asarray(X, dtype=np.float64)
    n, d = X.shape
    assert d % m_subspaces == 0, "dim must divide into subspaces"
    dsub = d // m_subspaces
    rng = np.random.default_rng(seed ^ 0x91)
    if n > max_train:
        X = X[rng.choice(n, max_train, replace=False)]
        n = max_train
    k = min(n_codes, n)
    books = np.zeros((m_subspaces, n_codes, dsub))
    for m in range(m_subspaces):
        S = X[:, m * dsub:(m + 1) * dsub]
        C = S[rng.choice(n, k, replace=False)].copy()
        sq_s = (S * S).sum(axis=1)
        for _ in range(iters):
            # ||s-c||^2 = ||s||^2 - 2 s.c + ||c||^2; argmin via GEMM
            a = np.argmin(
                sq_s[:, None] - 2.0 * (S @ C.T) + (C * C).sum(axis=1)[None],
                axis=1,
            )
            for j in range(k):
                members = S[a == j]
                if len(members):
                    C[j] = members.mean(axis=0)
                else:
                    C[j] = S[rng.integers(n)]
        books[m, :k] = C
    return books


def pq_decode(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Reconstruct [n, d] from codes (the PQ centroids concatenated)."""
    M, n_codes, dsub = books.shape
    return np.concatenate(
        [books[m][codes[:, m].astype(np.int64)] for m in range(M)], axis=1
    )


def train_opq(
    X: np.ndarray, m_subspaces: int = 8, n_codes: int = 256,
    iters: int = 6, pq_iters: int = 6, seed: int = SEED,
    max_train: int = 50_000,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ (Ge et al., CVPR'13 — faiss OPQMatrix): learn an orthogonal
    rotation R so PQ quantizes R·x with lower error than x (subspaces get
    decorrelated, variance balances across blocks).  Alternating
    minimization: train PQ on X@R, reconstruct, solve the orthogonal
    Procrustes problem (SVD of X^T X̂) for the next R.  Deterministic
    (seeded sample + seeded PQ).  Returns (R [d, d], books).

    Inner products are preserved exactly under the rotation
    ((q@R)·(x@R) = q·x), so OPQ changes ONLY preselect recall — the
    downstream exact rescore is untouched."""
    X = np.asarray(X, dtype=np.float64)
    rng = np.random.default_rng(seed ^ 0xB0)
    if len(X) > max_train:
        X = X[rng.choice(len(X), max_train, replace=False)]
    d = X.shape[1]
    R = np.eye(d)
    for _ in range(iters):
        XR = X @ R
        books = train_pq(XR, m_subspaces, n_codes, iters=pq_iters,
                         seed=seed, max_train=max_train)
        Xhat = pq_decode(pq_encode(XR, books), books)
        U, _s, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    books = train_pq(X @ R, m_subspaces, n_codes, iters=pq_iters,
                     seed=seed, max_train=max_train)
    return R, books


def train_pq_residual(
    X: np.ndarray, centroids: np.ndarray, m_subspaces: int = 8,
    n_codes: int = 256, iters: int = 10, seed: int = SEED,
    max_train: int = 50_000,
) -> np.ndarray:
    """Codebooks trained on RESIDUALS to the coarse IVF centroid
    (faiss IndexIVFPQ, Jégou'11 §A): r = x - c(x) with c(x) the
    inner-product-nearest centroid — the same assignment rule
    build_pq_broadcast_value uses, so encode-time residuals come from
    the identical cells."""
    X = np.asarray(X, dtype=np.float64)
    assign = np.argmax(X @ np.asarray(centroids, dtype=np.float64).T, axis=1)
    res = X - np.asarray(centroids, dtype=np.float64)[assign]
    return train_pq(res, m_subspaces, n_codes, iters=iters, seed=seed,
                    max_train=max_train)


def pq_encode(X: np.ndarray, books: np.ndarray,
              block: int = 65_536) -> np.ndarray:
    """codes [n, M] uint8: nearest subspace centroid per block.
    Row-blocked GEMM distances — O(block x n_codes) peak, any n."""
    X = np.asarray(X, dtype=np.float64)
    M, n_codes, dsub = books.shape
    out = np.empty((len(X), M), dtype=np.uint8)
    sq_c = (books * books).sum(axis=2)  # [M, n_codes]
    for b0 in range(0, len(X), block):
        Xb = X[b0:b0 + block]
        for m in range(M):
            S = Xb[:, m * dsub:(m + 1) * dsub]
            d2 = -2.0 * (S @ books[m].T) + sq_c[m][None]
            out[b0:b0 + block, m] = np.argmin(d2, axis=1).astype(np.uint8)
    return out


def _query_luts(Q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """LUT[q, m, c] = <Q_sub, book_c> — f32, [n_q, M, n_codes]."""
    M, n_codes, dsub = books.shape
    nq = len(Q)
    return np.einsum(
        "qmd,mcd->qmc", Q.reshape(nq, M, dsub), books
    ).astype(np.float32)


def _lut_scores(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Approximate scores [n_q, len(codes)] for one code slice."""
    S = lut[:, 0, codes[:, 0]]
    for m in range(1, codes.shape[1]):
        S = S + lut[:, m, codes[:, m]]
    return S


def _merge_topk(best_sc, best_ix, S, idx, kc):
    """Running top-kc merge under (-score, index asc) — same total order
    as the IVF search, so candidate sets are partition-independent."""
    cat_sc = np.concatenate([best_sc, S], axis=1)
    cat_ix = np.concatenate(
        [best_ix, np.broadcast_to(idx, (len(S), len(idx)))], axis=1
    )
    keep = np.lexsort((cat_ix, -cat_sc), axis=1)[:, :kc]
    return (
        np.take_along_axis(cat_sc, keep, axis=1),
        np.take_along_axis(cat_ix, keep, axis=1),
    )


class _PqIndex:
    """Executor-side PQ preselect state (from one broadcast tuple).

    codes are cell-grouped (CSR) when built with centroids (IndexIVFPQ
    shape); ``cell_ptr is None`` means flat PQ (blocked full scan)."""

    BLOCK = 1024          # query rows per kernel block
    CODE_BLOCK = 65_536   # flat-scan code rows per block

    def __init__(self, eids, gcodes, perm, cell_ptr, CT, books, R=None,
                 residual=False):
        self.eids = eids
        self.gcodes = gcodes
        self.perm = perm
        self.cell_ptr = cell_ptr
        self.CT = CT
        self.books = books
        self.R = R  # optional OPQ rotation; codes were built on emat @ R
        self.residual = residual  # codes quantize x - centroid(x)
        self.stats = {"max_score_cols": 0}

    _cached: "_PqIndex | None" = None

    @classmethod
    def from_broadcast(cls, value):
        inst = cls._cached
        if inst is not None and inst._payload is value:
            return inst
        cls._cached = inst = None  # single slot: release before building
        inst = cls(*value)
        inst._payload = value
        cls._cached = inst
        return inst

    def _track(self, cols: int) -> None:
        if cols > self.stats["max_score_cols"]:
            self.stats["max_score_cols"] = cols

    def preselect(self, Q: np.ndarray, kc: int, nprobe: int = 0):
        """[n, kc] candidate ORIGINAL entity indices; -1 marks unfilled
        slots (fewer than kc codes reachable through the probed cells) —
        callers must drop negatives."""
        if len(Q) <= self.BLOCK:
            return self._preselect_block(Q, kc, nprobe)
        return np.concatenate(
            [self._preselect_block(Q[i: i + self.BLOCK], kc, nprobe)
             for i in range(0, len(Q), self.BLOCK)],
            axis=0,
        )

    def _preselect_block(self, Q: np.ndarray, kc: int, nprobe: int):
        n = len(Q)
        E = len(self.gcodes)
        if n == 0 or E == 0:
            return np.zeros((n, 0), dtype=np.int64)
        kc = min(kc, E)
        Q64 = Q.astype(np.float64, copy=False)
        # OPQ: rotate queries into the codebook space (inner products are
        # rotation-invariant, so LUT scores approximate the RAW dot)
        lut = _query_luts(Q64 @ self.R if self.R is not None else Q64,
                          self.books)
        best_sc = np.full((n, kc), -np.inf, dtype=np.float32)
        best_ix = np.zeros((n, kc), dtype=np.int64)
        n_cells = 0 if self.cell_ptr is None else len(self.cell_ptr) - 1
        if self.residual and not n_cells:
            raise ValueError("residual PQ codes require an IVF cell layout")
        if self.residual:
            # residual decomposition needs the per-cell q.centroid term
            # even at exhaustive probing — always take the cell path
            nprobe = n_cells if not 0 < nprobe <= n_cells else nprobe
        if n_cells and (0 < nprobe < n_cells or self.residual):
            # IVF-PQ: gather only probed cells' codes (cell probing is in
            # the RAW space — centroids are trained on unrotated vectors)
            cs = Q64 @ self.CT
            probe = np.argpartition(
                -cs, min(nprobe - 1, n_cells - 1), axis=1
            )[:, :nprobe]
            flat_rows = np.repeat(np.arange(n), nprobe)
            flat_cells = probe.ravel()
            order = np.argsort(flat_cells, kind="stable")
            fr, fc = flat_rows[order], flat_cells[order]
            cells, starts = np.unique(fc, return_index=True)
            bounds = np.append(starts, len(fc))
            for ci, c in enumerate(cells):
                s, e = int(self.cell_ptr[c]), int(self.cell_ptr[c + 1])
                if s == e:
                    continue
                rows = fr[bounds[ci]:bounds[ci + 1]]
                S = _lut_scores(lut[rows], self.gcodes[s:e])
                if self.residual:
                    # q.x = q.centroid_c + q.residual: add the coarse
                    # term (already computed by the probe GEMM)
                    S = S + cs[rows, c][:, None].astype(np.float32)
                self._track(kc + (e - s))
                sc, ix = _merge_topk(
                    best_sc[rows], best_ix[rows], S, self.perm[s:e], kc
                )
                best_sc[rows], best_ix[rows] = sc, ix
        else:
            # flat (or exhaustive-probe): E-blocked scan, running top-kc
            for b0 in range(0, E, self.CODE_BLOCK):
                cb = self.gcodes[b0:b0 + self.CODE_BLOCK]
                S = _lut_scores(lut, cb)
                self._track(kc + len(cb))
                best_sc, best_ix = _merge_topk(
                    best_sc, best_ix, S, self.perm[b0:b0 + len(cb)], kc
                )
        # unfilled slots (probed cells held < kc codes) would otherwise
        # leak entity index 0 as a fabricated candidate — mark them -1
        best_ix[~np.isfinite(best_sc)] = -1
        return best_ix


def build_pq_broadcast_value(
    entities_pdf: pd.DataFrame,
    books: np.ndarray,
    centroids: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
    residual: bool = False,
):
    """Broadcast payload for _PqIndex.  With ``centroids``, codes are
    grouped by IVF cell (IndexIVFPQ); without, identity layout.  With
    ``rotation`` (train_opq), codes quantize the rotated vectors
    (IndexPreTransform+OPQMatrix shape) — 1 MB extra broadcast.  With
    ``residual`` (books from train_pq_residual), codes quantize
    x - centroid(x) (IndexIVFPQ's by_residual refinement; requires
    ``centroids``).  ``rotation`` + ``residual`` compose (faiss
    OPQ pretransform over IVFPQ residuals): codes quantize
    (x - centroid(x)) @ R, and the search identity
    q·x = q·centroid + (qR)·(rR) holds because rotations preserve
    inner products — train books with train_opq on the residuals."""
    eids, emat = _entity_arrays(entities_pdf)
    if residual and centroids is None:
        raise ValueError("residual coding requires IVF centroids")
    if centroids is None:
        codes = pq_encode(
            emat @ rotation if rotation is not None else emat, books
        )
        perm = np.arange(len(eids), dtype=np.int64)
        return (eids, codes, perm, None, None, books, rotation, False)
    n_cells = len(centroids)
    assign = np.argmax(emat @ centroids.T, axis=1).astype(np.int32)
    enc = emat - centroids[assign] if residual else emat
    if rotation is not None:
        enc = enc @ rotation
    codes = pq_encode(enc, books)
    perm = np.argsort(assign, kind="stable").astype(np.int64)
    counts = np.bincount(assign, minlength=n_cells)
    cell_ptr = np.zeros(n_cells + 1, dtype=np.int64)
    np.cumsum(counts, out=cell_ptr[1:])
    return (
        eids,
        np.ascontiguousarray(codes[perm]),
        perm,
        cell_ptr,
        np.ascontiguousarray(centroids.T),
        books,
        rotation,
        residual,
    )


def link_pq(
    mentions: DataFrame,
    entities: DataFrame,
    entities_pdf: pd.DataFrame,
    books: np.ndarray,
    k: int = 1,
    tau: float = 0.0,
    kc: int = 32,
    centroids: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
    residual: bool = False,
    nprobe: int = 32,
    mention_keys: tuple[str, ...] = ("doc_id", "span_idx"),
    carry_cols: tuple[str, ...] = ("kind",),
) -> DataFrame:
    """PQ preselect (broadcast codes) + exact rescore (entity-table join).

    ``entities_pdf`` is used only to BUILD codes here (in production the
    codes table is built once by a separate job, like save_index); the
    full-precision vectors are read from the ``entities`` DataFrame at
    rescore time and are never broadcast.  ``centroids`` switches the
    preselect to IVF-PQ (probed-cell gathers only).
    """
    spark = mentions.sparkSession
    bc = spark.sparkContext.broadcast(
        build_pq_broadcast_value(
            entities_pdf, books, centroids, rotation, residual
        )
    )

    keys = list(mention_keys)
    ment = mentions.filter(F.col("embedding").isNotNull())
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in ment.schema.fields if f.name in keys
    )
    np_ = nprobe

    def preselect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        idx = _PqIndex.from_broadcast(bc.value)
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cand = idx.preselect(Q, kc, np_)
            ncand = cand.shape[1]
            if ncand == 0:
                continue
            flat = cand.ravel()
            valid = flat >= 0  # drop unfilled preselect slots
            if not valid.any():
                continue
            out = pdf[keys].iloc[
                np.repeat(np.arange(len(pdf)), ncand)[valid]
            ].reset_index(drop=True)
            out["entity_id"] = idx.eids[flat[valid]]
            yield out

    cands = ment.select(*keys, "embedding").mapInPandas(
        preselect, schema=f"{key_schema}, entity_id string"
    ).dropDuplicates([*keys, "entity_id"])
    m_emb = ment.select(*keys, *carry_cols, F.col("embedding").alias("m_emb"))
    e_emb = entities.select("entity_id", F.col("embedding").alias("e_emb"))
    scored = (
        cands.join(m_emb, keys)
        .join(e_emb, "entity_id")
        .withColumn("score", cosine_expr("m_emb", "e_emb"))
        .drop("m_emb", "e_emb")
    )
    top = topk_per_group(
        scored, group_cols=keys, order_col="score", k=k,
        tiebreak_cols=["entity_id"],
    )
    return top.filter(F.col("score") >= tau)
