"""Scale gate for the cell-pruned IVF search: nprobe must prune COMPUTE,
not just mask results — peak GEMM width bounded by the largest probed
cell, never by E (the round-1 [batch x E] dense-GEMM cliff: 40 GB per
task at E=10^7).  Pure-NumPy tests: _IvfIndex is executor-side state, so
no Spark session is needed to gate its memory shape."""

import numpy as np
import pytest

from cli_p_spark.operators.ann import _IvfIndex, build_ivf_broadcast_value


def _make_index(E, dim, nlist, seed=7):
    import pandas as pd

    rng = np.random.default_rng(seed)
    emat = rng.standard_normal((E, dim)).astype(np.float32)
    emat /= np.linalg.norm(emat, axis=1, keepdims=True)
    # untrained random unit centroids: assignment structure is all the
    # search path needs; training quality is gated elsewhere
    C = rng.standard_normal((nlist, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {"entity_id": [f"e{i:08d}" for i in range(E)],
         "embedding": list(emat)}
    )
    return pdf, C


def _exact_masked_topk(Q, emat64, C, k, nprobe):
    """Oracle: f64 scores, top-nprobe cells by f64 centroid score, top-k
    within probed cells by (-score, entity idx asc)."""
    cs = Q @ C.T
    pp = min(nprobe, len(C))
    probe = np.argpartition(-cs, pp - 1, axis=1)[:, :pp]
    assign = np.argmax(emat64 @ C.T, axis=1)
    out = []
    for i in range(len(Q)):
        allowed = np.isin(assign, probe[i])
        sc = Q[i] @ emat64.T
        sc[~allowed] = -np.inf
        order = np.lexsort((np.arange(len(sc)), -sc))[:k]
        out.append([(int(j), float(sc[j])) for j in order
                    if np.isfinite(sc[j])])
    return out


@pytest.mark.parametrize("E,nlist,nprobe", [(20_000, 64, 8), (5_000, 32, 4)])
def test_pruned_search_matches_masked_oracle(E, nlist, nprobe):
    dim, k = 32, 5
    pdf, C = _make_index(E, dim, nlist)
    idx = _IvfIndex(*build_ivf_broadcast_value(pdf, C))
    rng = np.random.default_rng(11)
    Q = rng.standard_normal((40, dim))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    emat64 = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)

    cand, sc64 = idx.search(Q, k, nprobe)
    golden = _exact_masked_topk(Q, emat64, C, k, nprobe)
    for i in range(len(Q)):
        order = np.lexsort((cand[i], -sc64[i]))[:k]
        got = [(int(cand[i][j]), float(sc64[i][j])) for j in order
               if np.isfinite(sc64[i][j])]
        assert [g[0] for g in got] == [g[0] for g in golden[i]], i
        assert np.allclose([g[1] for g in got], [g[1] for g in golden[i]],
                           atol=1e-12)


@pytest.mark.parametrize("nprobe", [16, 256])  # 256 = nlist: exhaustive
def test_gemm_width_bounded_by_max_cell_not_E(nprobe):
    """The 100 TB memory gate: at E=10^6 the peak per-block GEMM width
    must be max probed-cell size + k+margin, NOT E — also when every
    cell is probed."""
    E, dim, nlist, k = 1_000_000, 16, 256, 10
    pdf, C = _make_index(E, dim, nlist)
    payload = build_ivf_broadcast_value(pdf, C)
    idx = _IvfIndex(*payload)
    cell_ptr = payload[4]
    max_cell = int(np.diff(cell_ptr).max())
    rng = np.random.default_rng(3)
    Q = rng.standard_normal((64, dim))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)

    cand, sc64 = idx.search(Q, k, nprobe)
    assert cand.shape == (64, k + idx.MARGIN)
    assert np.isfinite(sc64).all()  # every probe found >= kc candidates
    kc = k + idx.MARGIN
    assert idx.stats["max_gemm_cols"] <= max_cell + kc, (
        idx.stats, max_cell)
    assert idx.stats["max_gemm_cols"] < E // 10


def test_exhaustive_probe_uses_dense_path_and_is_exact():
    E, dim, nlist, k = 3_000, 16, 16, 3
    pdf, C = _make_index(E, dim, nlist)
    idx = _IvfIndex(*build_ivf_broadcast_value(pdf, C))
    rng = np.random.default_rng(5)
    Q = rng.standard_normal((10, dim))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    emat64 = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cand, sc64 = idx.search(Q, k, nlist)  # nprobe = nlist
    golden = _exact_masked_topk(Q, emat64, C, k, nlist)
    for i in range(len(Q)):
        order = np.lexsort((cand[i], -sc64[i]))[:k]
        assert [int(cand[i][j]) for j in order] == [g[0] for g in golden[i]]


def test_exhaustive_boundary_ties_keep_min_entity_ids():
    """Mass-duplicate index (dedup corpora): when >kc entities tie at the
    f32 boundary, the exhaustive path must keep the minimum entity ids —
    the (-score, entity_id asc) determinism contract."""
    import pandas as pd

    dim, k = 8, 3
    v = np.ones(dim, dtype=np.float32) / np.sqrt(dim)
    w = -v
    # 20 exact copies of the best vector + 5 fillers
    embs = [v] * 20 + [w] * 5
    pdf = pd.DataFrame(
        {"entity_id": [f"e{i:04d}" for i in range(25)],
         "embedding": embs}
    )
    C = np.stack([v.astype(np.float64), w.astype(np.float64)])
    idx = _IvfIndex(*build_ivf_broadcast_value(pdf, C))
    Q = np.asarray([v], dtype=np.float64)
    cand, sc64 = idx.search(Q, k, nprobe=2)  # exhaustive (nlist=2)
    order = np.lexsort((cand[0], -sc64[0]))[:k]
    got = [int(cand[0][j]) for j in order]
    assert got == [0, 1, 2], got  # the three smallest-id duplicates


@pytest.mark.parametrize("nprobe", [1, 4])  # 4 = nlist: exhaustive
def test_exhaustive_near_ties_match_f64_oracle(nprobe):
    """The search is EXACT f64 over its probed cells, at nprobe = nlist
    and below it, also when many entities sit within f32 rounding of
    each other: 40 unit entities within 2e-4 (L2) of the query score
    within 2e-8 of it, far below the f32 resolution at 1.0, so an f32
    preselect of k+MARGIN candidates loses the f64 top-k on most draws.
    Every probed cell's candidates are selected on f64 scores."""
    import pandas as pd

    dim, n_ents, nlist = 64, 40, 4
    rng = np.random.default_rng(2026)
    mismatches = []
    for draw in range(200):
        q = rng.standard_normal(dim)
        q = (q / np.linalg.norm(q)).astype(np.float32).astype(np.float64)
        off = rng.standard_normal((n_ents, dim))
        off -= np.outer(off @ q, q)
        off /= np.linalg.norm(off, axis=1, keepdims=True)
        E = q + 2e-4 * rng.random(n_ents)[:, None] * off
        E = (E / np.linalg.norm(E, axis=1, keepdims=True)).astype(np.float32)
        pdf = pd.DataFrame(
            {"entity_id": [f"e{i:03d}" for i in range(n_ents)],
             "embedding": list(E)}
        )
        C = rng.standard_normal((nlist, dim))
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        idx = _IvfIndex(*build_ivf_broadcast_value(pdf, C))
        Q = q[None, :]
        for k in (1, 3):
            cand, sc64 = idx.search(Q, k, nprobe)
            order = np.lexsort((cand[0], -sc64[0]))[:k]
            golden = _exact_masked_topk(Q, E.astype(np.float64), C, k,
                                        nprobe)[0]
            same_ids = [int(cand[0][j]) for j in order] == [
                g[0] for g in golden]
            same_sc = np.allclose(sc64[0][order], [g[1] for g in golden],
                                  rtol=0, atol=1e-12)
            if not (same_ids and same_sc):
                mismatches.append((draw, k))
    assert not mismatches, f"{len(mismatches)}/400 near-tie draws differ"


def test_pq_preselect_unfilled_slots_marked_invalid():
    """IVF-PQ probing cells holding fewer than kc codes must NOT leak
    entity index 0 as a fabricated candidate."""
    import pandas as pd

    from cli_p_spark.operators.pq import (
        _PqIndex,
        build_pq_broadcast_value,
        train_pq,
    )

    rng = np.random.default_rng(77)
    dim = 8
    # two TIGHT well-separated clusters around ±e1; cell 1 holds only 2
    e1 = np.zeros(dim)
    e1[0] = 1.0
    a = e1 + 0.01 * rng.standard_normal((30, dim))
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    b = -e1 + 0.01 * rng.standard_normal((2, dim))
    b /= np.linalg.norm(b, axis=1, keepdims=True)
    X = np.concatenate([a, b]).astype(np.float32)
    pdf = pd.DataFrame(
        {"entity_id": [f"e{i:04d}" for i in range(len(X))],
         "embedding": list(X)}
    )
    books = train_pq(X, m_subspaces=2)
    C = np.stack([e1, -e1])
    idx = _PqIndex(*build_pq_broadcast_value(pdf, books, centroids=C))
    q = np.asarray([-e1], dtype=np.float64)
    cand = idx.preselect(q, kc=10, nprobe=1)  # probed cell has 2 codes
    valid = cand[cand >= 0]
    assert (cand == -1).sum() == 8, cand  # 10 slots, 2 real candidates
    assert set(valid) <= {30, 31}, valid  # only the probed cell's members
