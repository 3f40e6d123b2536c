"""The output checkers reject a corrupted triple, a dropped edge and a
merged component, and accept the oracle's own answer."""

import numpy as np
import pandas as pd
import pytest

from cli_p_spark.config import DIM, SEED, TAU
from cli_p_spark.fixtures.generate import make_documents, make_entities
from cli_p_spark.oracle.exact import golden_triples
from perfbench.checks import UnionFind, check_canon, check_links, \
    oracle_components


@pytest.fixture(scope="module")
def kg():
    ents = make_entities(60)
    docs = make_documents(40, ents)
    return docs, ents, golden_triples(docs, ents, tau=TAU, k=1)


def _check(got, kg):
    docs, ents, _ = kg
    return check_links(got, docs, ents, tau=TAU, dim=DIM, seed=SEED,
                       min_pr=0.95)


def test_oracle_triples_pass(kg):
    r = _check(kg[2], kg)
    assert r["ok"] and r["invalid"] == 0
    assert r["precision"] == r["recall"] == r["accuracy"] == 1.0


@pytest.mark.parametrize("field", ["obj", "score", "pred", "span_idx"])
def test_corrupted_triple_is_rejected(kg, field):
    got = kg[2].copy()
    other = sorted(set(kg[1]["entity_id"]) - {got.at[0, "obj"]})[0]
    got.at[0, field] = {"obj": other, "score": got.at[0, "score"] + 1e-3,
                        "pred": "depicts" if got.at[0, "pred"] == "mentions"
                        else "mentions", "span_idx": 99}[field]
    r = _check(got, kg)
    assert r["invalid"] == 1
    assert not r["ok"]


def test_duplicated_triple_is_rejected(kg):
    got = pd.concat([kg[2], kg[2].iloc[[0]]], ignore_index=True)
    assert not _check(got, kg)["ok"]


def test_missing_triples_fail_recall(kg):
    got = kg[2].iloc[: len(kg[2]) // 2]
    r = _check(got, kg)
    assert r["invalid"] == 0 and r["recall"] < 0.95 and not r["ok"]


def _mentions():
    """Two groups: a chain a-b-c of near copies, a lone vector, and in
    group 1 three exact copies plus a pair."""
    rng = np.random.default_rng(0)
    base = rng.standard_normal((4, 8))
    rows = [
        ("m0", 0, base[0]),
        ("m1", 0, base[0] + 0.05 * base[1] / np.linalg.norm(base[1])),
        ("m2", 0, base[0] + 0.10 * base[1] / np.linalg.norm(base[1])),
        ("m3", 0, base[2]),
        ("m4", 1, base[3]), ("m5", 1, base[3]), ("m6", 1, base[3]),
        ("m7", 1, base[1]),
        ("m8", 1, base[1] * 1.5),
    ]
    return pd.DataFrame({
        "mention_id": [r[0] for r in rows],
        "grp": [r[1] for r in rows],
        "embedding": [r[2].astype(np.float32) for r in rows],
    })


def test_oracle_components():
    assert oracle_components(_mentions(), tau=0.95) == {
        "m0": "m0", "m1": "m0", "m2": "m0", "m3": "m3",
        "m4": "m4", "m5": "m4", "m6": "m4", "m7": "m7", "m8": "m7",
    }


def _mapping(ids, edges):
    uf = UnionFind(len(ids))
    pos = {m: i for i, m in enumerate(ids)}
    for a, b in edges:
        uf.union(pos[a], pos[b])
    return {m: ids[uf.find(pos[m])] for m in ids}


EDGES = [("m0", "m1"), ("m1", "m2"), ("m4", "m5"), ("m4", "m6"),
         ("m7", "m8")]
IDS = [f"m{i}" for i in range(9)]


def test_canon_accepts_the_oracle_answer():
    want = oracle_components(_mentions(), tau=0.95)
    r = check_canon(_mapping(IDS, EDGES), want)
    assert r == {"accuracy": 1.0, "precision": 1.0, "recall": 1.0,
                 "ok": True}


def test_dropped_edge_is_rejected():
    want = oracle_components(_mentions(), tau=0.95)
    r = check_canon(_mapping(IDS, EDGES[1:]), want)
    assert not r["ok"] and r["accuracy"] < 1.0 and r["recall"] < 1.0
    assert r["precision"] == 1.0


def test_merged_component_is_rejected():
    want = oracle_components(_mentions(), tau=0.95)
    r = check_canon(_mapping(IDS, EDGES + [("m2", "m3")]), want)
    assert not r["ok"] and r["accuracy"] < 1.0 and r["precision"] < 1.0
    assert r["recall"] == 1.0


def test_missing_mention_is_rejected():
    want = oracle_components(_mentions(), tau=0.95)
    got = _mapping(IDS, EDGES)
    del got["m3"]
    assert not check_canon(got, want)["ok"]
