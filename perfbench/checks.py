"""Correctness checks on a run's committed output.

- ``digest``: an order-independent hash of a table, so every call of one
  invocation must commit the same rows however Spark partitioned them.
- ``check_links``: the kg workloads' triples on a document sample against
  ``cli_p_spark.oracle.exact.golden_triples`` (exhaustive f64 search).
- ``oracle_components`` / ``check_canon``: the canon workload's mapping on
  a group sample against NumPy all-pairs >= tau plus union-find.

The check functions take pandas frames and return plain numbers, so the
tests can feed them corrupted inputs without Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SCORE_TOL = 1e-6


def digest(df, cols: list[str], score_col: str | None = None) -> str:
    """``count:lo:hi`` where lo and hi sum the low and high 32 bits of a
    per-row xxhash64; sums do not depend on row order or partitioning.  A
    float column is rounded first so last-bit BLAS differences do not
    count as a different output."""
    from pyspark.sql import functions as F

    if score_col is not None:
        df = df.withColumn(score_col, F.round(score_col, 6))
    h = df.select(F.xxhash64(*cols).alias("h"))
    row = h.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned("h", 32)).alias("hi"),
    ).collect()[0]
    return f"{row['n']}:{row['lo'] or 0}:{row['hi'] or 0}"


# --------------------------------------------------------------------------
# kg: links against the exhaustive oracle


def check_links(got: pd.DataFrame, docs: pd.DataFrame, entities: pd.DataFrame,
                tau: float, dim: int, seed: int, min_pr: float) -> dict:
    """Check the triples ``got`` of the sampled documents ``docs``.

    Returns precision and recall against ``golden_triples``, ``accuracy``
    (the share of sampled spans whose linked entity, or absence of one,
    equals the oracle's) and ``invalid``: the number of triples that no
    correct k=1 search can emit -- an unknown span or entity, a predicate
    that does not match the span kind, a rank other than 1, a second triple
    for one span, a score that is not the exact cosine of the span and the
    claimed entity, a score below tau, or one above the oracle's best.
    ``ok`` needs no invalid triple and precision and recall of at least
    ``min_pr`` (the IVF search is approximate, so they may be below 1)."""
    from cli_p_spark.functions.encoder import encode_batch
    from cli_p_spark.oracle.exact import (
        golden_triples,
        precision_recall,
        span_contents,
    )

    golden = golden_triples(docs, entities, dim=dim, seed=seed, tau=tau, k=1)
    precision, recall = precision_recall(got, golden)

    spans = span_contents(docs)
    mat, ok = encode_batch(spans["content"], dim=dim, seed=seed)
    emat = np.stack(entities["embedding"].to_numpy()).astype(np.float64)
    best = (mat.astype(np.float64) @ emat.T).max(axis=1)
    pos = {(d, int(i)): j for j, (d, i) in
           enumerate(zip(spans["doc_id"], spans["span_idx"]))}
    ent_pos = {e: j for j, e in enumerate(entities["entity_id"])}

    invalid = 0
    linked: dict[tuple[str, int], str] = {}
    for t in got.itertuples(index=False):
        key = (t.subj, int(t.span_idx))
        j, e = pos.get(key), ent_pos.get(t.obj)
        if j is None or e is None or not ok[j] or key in linked:
            invalid += 1
            continue
        linked[key] = t.obj
        want_pred = "mentions" if spans["kind"].iat[j] == "text" else "depicts"
        exact = float(mat[j].astype(np.float64) @ emat[e])
        if (t.pred != want_pred or int(t.rank) != 1
                or abs(t.score - exact) > SCORE_TOL
                or t.score < tau - SCORE_TOL
                or t.score > best[j] + SCORE_TOL):
            invalid += 1

    want = {(t.subj, int(t.span_idx)): t.obj
            for t in golden.itertuples(index=False)}
    keys = [k for k, j in pos.items() if ok[j]]
    agree = sum(linked.get(k) == want.get(k) for k in keys)
    return {
        "precision": precision,
        "recall": recall,
        "accuracy": agree / len(keys) if keys else 1.0,
        "invalid": invalid,
        "ok": invalid == 0 and precision >= min_pr and recall >= min_pr,
    }


# --------------------------------------------------------------------------
# canon: components against all-pairs + union-find


class UnionFind:
    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, i: int) -> int:
        while self.parent[i] != i:
            self.parent[i] = self.parent[self.parent[i]]
            i = self.parent[i]
        return i

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def oracle_components(mentions: pd.DataFrame, tau: float,
                      block: int = 1024) -> dict[str, str]:
    """mention_id -> canonical id (smallest mention_id of its component),
    where two mentions of one ``grp`` are linked when their cosine is at
    least tau.  Identical vectors are linked without a product (their
    cosine is 1); the distinct vectors of a group are compared all-pairs
    in f64, ``block`` rows at a time."""
    out: dict[str, str] = {}
    for _, g in mentions.groupby("grp", sort=True):
        ids = g["mention_id"].to_numpy()
        X = np.stack(g["embedding"].to_numpy()).astype(np.float64)
        uniq, inverse = np.unique(X, axis=0, return_inverse=True)
        inverse = inverse.reshape(-1)
        norms = np.linalg.norm(uniq, axis=1, keepdims=True)
        U = uniq / np.where(norms == 0, 1.0, norms)
        uf = UnionFind(len(U))
        for lo in range(0, len(U), block):
            sims = U[lo:lo + block] @ U.T
            for a, b in zip(*np.nonzero(sims >= tau)):
                uf.union(lo + int(a), int(b))
        roots = np.array([uf.find(i) for i in range(len(U))])[inverse]
        canon = pd.Series(ids).groupby(roots).transform("min").to_numpy()
        out.update(zip(ids, canon))
    return out


def _same_pairs(labels: pd.Series) -> int:
    n = labels.value_counts().to_numpy(dtype=np.int64)
    return int((n * (n - 1) // 2).sum())


def check_canon(got: dict[str, str], want: dict[str, str]) -> dict:
    """``accuracy``: the share of checked mentions whose canonical id equals
    the oracle's (a mention missing from ``got`` counts as wrong).
    ``precision`` / ``recall``: over pairs of checked mentions put in one
    component, the share the oracle also joins / the share of the oracle's
    pairs that ``got`` joins.  ``ok`` needs every checked mention right:
    the true pairs of ``distributed_mentions`` sit near cosine 0.9996
    (jitter 0.02), where the banded LSH tuned for tau 0.95 misses a pair
    with a probability below 1e-15, so any miss is a defect."""
    ids = sorted(want)
    w = pd.Series([want[i] for i in ids])
    g = pd.Series([got.get(i, f"missing:{i}") for i in ids])
    both = _same_pairs(w + "\x00" + g)
    pg, pw = _same_pairs(g), _same_pairs(w)
    accuracy = float((w == g).mean()) if ids else 1.0
    return {
        "accuracy": accuracy,
        "precision": both / pg if pg else 1.0,
        "recall": both / pw if pw else 1.0,
        "ok": accuracy == 1.0,
    }
