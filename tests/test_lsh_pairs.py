"""Banded sign-LSH pair generation vs the exact all-pairs oracle."""

import numpy as np
import pytest

from cli_p_spark.operators.lsh import hyperplane_lsh_pairs


def _mk_vectors(n_base=120, dim=64, seed=9):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i in range(n_base):
        rows.append((f"v{i:04d}a", base[i].astype(np.float32).tolist()))
        jit = base[i] + rng.standard_normal(dim) * 0.03  # cos ~0.97
        jit /= np.linalg.norm(jit)
        rows.append((f"v{i:04d}b", jit.astype(np.float32).tolist()))
    return rows


def test_lsh_pairs_match_exact_oracle(spark):
    rows = _mk_vectors()
    df = spark.createDataFrame(rows, "id string, embedding array<float>")
    tau = 0.9
    got = {
        (r["src"], r["dst"]): r["cosine"]
        for r in hyperplane_lsh_pairs(
            df, "embedding", "id", tau=tau, dim=64
        ).collect()
    }
    emb = {k: np.array(v, dtype=np.float64) for k, v in rows}
    ids = sorted(emb)
    oracle = {
        (a, b): float(emb[a] @ emb[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if emb[a] @ emb[b] >= tau
    }
    # precision is exact (every candidate is cosine-verified)
    assert set(got) <= set(oracle)
    # recall: jittered twins sit at cos~0.96-0.98 where banded LSH recall
    # is near-1; demand >= 0.95 overall
    recall = len(got) / len(oracle)
    assert recall >= 0.95, (recall, len(got), len(oracle))
    for k, v in got.items():
        assert abs(v - oracle[k]) < 1e-6


def test_lsh_grouped_restricts_pairs(spark):
    """group_col shards pairing: cross-group near-dups are not paired
    (the per-neighborhood canonicalization mode for 10^12 mentions)."""
    rows = _mk_vectors(n_base=40)
    grouped = [
        (rid, emb, "g1" if i < 40 else "g2")
        for i, (rid, emb) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        grouped, "id string, embedding array<float>, grp string"
    )
    global_pairs = {
        (r["src"], r["dst"])
        for r in hyperplane_lsh_pairs(
            df, "embedding", "id", tau=0.9, dim=64
        ).collect()
    }
    grouped_pairs = {
        (r["src"], r["dst"])
        for r in hyperplane_lsh_pairs(
            df, "embedding", "id", tau=0.9, dim=64, group_col="grp"
        ).collect()
    }
    grp = {rid: g for rid, _, g in grouped}
    assert grouped_pairs == {
        (a, b) for a, b in global_pairs if grp[a] == grp[b]
    }
    assert grouped_pairs  # some intra-group twins exist


def test_lsh_exact_duplicates_always_found(spark):
    rng = np.random.default_rng(2)
    v = rng.standard_normal(64)
    v /= np.linalg.norm(v)
    rows = [(f"d{i}", v.astype(np.float32).tolist()) for i in range(5)]
    w = rng.standard_normal(64)
    w /= np.linalg.norm(w)
    rows.append(("other", w.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "id string, embedding array<float>")
    got = {
        (r["src"], r["dst"])
        for r in hyperplane_lsh_pairs(
            df, "embedding", "id", tau=0.99, dim=64
        ).collect()
    }
    expect = {
        (f"d{i}", f"d{j}") for i in range(5) for j in range(5) if i < j
    }
    assert got == expect  # identical sigs collide in every band


def test_oversized_bucket_star_keeps_connectivity(spark):
    """Degenerate-bucket cap: a mass-duplicate group larger than
    max_bucket emits LINEAR bucket-min star candidates (not |B|^2, not
    nothing) — downstream CC still collapses it to one cluster."""
    import numpy as np

    from cli_p_spark.operators.ccomp import connected_components
    from cli_p_spark.operators.lsh import hyperplane_lsh_pairs

    rng = np.random.default_rng(31)
    v = rng.standard_normal(16)
    v /= np.linalg.norm(v)
    w = rng.standard_normal(16)
    w /= np.linalg.norm(w)
    rows = [(f"dup{i:03d}", v.astype(np.float32).tolist()) for i in range(40)]
    rows += [(f"solo{i:03d}", w.astype(np.float32).tolist()) for i in range(3)]
    df = spark.createDataFrame(rows, "id string, embedding array<float>")

    pairs = hyperplane_lsh_pairs(
        df, "embedding", "id", tau=0.99, dim=16,
        max_bucket=10, oversize="star",
    )
    got = [(r["src"], r["dst"]) for r in pairs.collect()]
    # linear, not quadratic: the 40-dup group contributes 39 star pairs,
    # the 3-solo group (under the cap) pairs quadratically (3)
    assert len(got) == 39 + 3, len(got)
    comps = connected_components(pairs.select("src", "dst"))
    comp_of = {r["node"]: r["component"] for r in comps.collect()}
    assert len({comp_of[f"dup{i:03d}"] for i in range(40)}) == 1
    assert len({comp_of[f"solo{i:03d}"] for i in range(3)}) == 1

    dropped = hyperplane_lsh_pairs(
        df, "embedding", "id", tau=0.99, dim=16,
        max_bucket=10, oversize="drop",
    )
    assert dropped.filter("src LIKE 'dup%'").count() == 0


def test_sharded_canonicalization_end_to_end(spark):
    """Bench-shape gate at test scale: distributed mention corpus
    (planted 4-cliques + an exact-copy hub) -> per-shard banded LSH ->
    salted CC.  The hub must collapse to ONE component via star edges
    (linear, not quadratic), planted cliques must canonicalize, and CC
    must converge in the expected few rounds."""
    from cli_p_spark.fixtures.distributed import distributed_mentions
    from cli_p_spark.operators.ccomp import connected_components
    from cli_p_spark.operators.lsh import (
        hyperplane_lsh_pairs,
        lsh_params_for_tau,
    )

    n, hub = 4000, 600
    m = distributed_mentions(spark, n, hub_copies=hub).persist()
    bits, bands = lsh_params_for_tau(0.95)
    pairs = hyperplane_lsh_pairs(
        m, "embedding", "mention_id", tau=0.95, dim=64,
        bits_per_band=bits, bands=bands, group_col="grp",
        max_bucket=200,
    ).persist()
    n_edges = pairs.count()
    # the 600-copy hub exceeds max_bucket in every band -> star edges,
    # LINEAR in hub size (quadratic would be ~180k for the hub alone)
    assert n_edges < hub * 3 + n * 2, n_edges
    stats = {}
    comps = connected_components(pairs.select("src", "dst"), stats=stats)
    sizes = {
        r["component"]: r["count"]
        for r in comps.groupBy("component").count().collect()
    }
    assert sizes.get("m000000000") == hub  # hub: one component, all copies
    assert stats["rounds"] <= 6
    # planted cliques: cluster of ids [c*4, c*4+4) is a component iff its
    # seeded coin said dup; spot-check determinism of a few clusters
    import numpy as np
    from cli_p_spark.config import SEED

    comp_of = {
        r["node"]: r["component"] for r in comps.collect()
    }
    for c in range(hub // 4 + 1, hub // 4 + 40):
        is_dup = np.random.default_rng(
            (SEED << 32) ^ (c * 2654435761)
        ).random() < 0.3
        members = [f"m{c * 4 + i:09d}" for i in range(4)]
        if is_dup:
            roots = {comp_of[x] for x in members}
            assert roots == {members[0]}, (c, roots)
        else:
            assert all(x not in comp_of or comp_of[x] == x
                       for x in members), c
    m.unpersist(); pairs.unpersist()
    pairs.signature_cache.unpersist()


def _pairs(df, **kw):
    return {
        (r["src"], r["dst"]): r["cosine"]
        for r in hyperplane_lsh_pairs(
            df, "embedding", "id", dim=64, **kw
        ).collect()
    }


def test_lsh_null_rows_make_no_pairs(spark):
    """A NULL id, embedding or group drops its row before banding: the
    pairs of the non-NULL rows are unchanged, grouped and ungrouped."""
    rows = _mk_vectors(n_base=30)
    clean = [(rid, emb, "g1" if i % 3 else "g2")
             for i, (rid, emb) in enumerate(rows)]
    nullgrp = ("nullgrp", rows[2][1], None)  # copy of v0001a's vector
    dirty = clean + [
        (None, rows[0][1], "g1"),  # copy of v0000a's vector, no id
        ("nullemb", None, "g1"),
        nullgrp,
    ]
    schema = "id string, embedding array<float>, grp string"
    # ungrouped, the NULL-group row is an ordinary row and pairs
    for kw, base in (({}, clean + [nullgrp]), ({"group_col": "grp"}, clean)):
        want = _pairs(spark.createDataFrame(base, schema), tau=0.9, **kw)
        got = _pairs(spark.createDataFrame(dirty, schema), tau=0.9, **kw)
        assert want and got == want, kw
        assert (("nullgrp", "v0001a") in got) == (not kw), kw


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("grp_type", ["int", "string"])
@pytest.mark.parametrize("oversize", ["star", "drop"])
def test_bucket_cap_across_arrow_batches(spark, id_type, grp_type, oversize):
    """Buckets of max_bucket and max_bucket + 1 exact copies, read in
    3-row Arrow batches so every bucket spans batches: the first pairs
    completely, the second emits exactly the star (or nothing).  A hot
    bucket of 4 * max_bucket copies keeps streaming after it passed the
    cap and must stay a star too."""
    cap = 5
    rng = np.random.default_rng(4)
    v, w, u = (x / np.linalg.norm(x) for x in rng.standard_normal((3, 64)))

    def mk_id(i):
        return i if id_type == "long" else f"m{i:03d}"

    def mk_grp(g):
        return g if grp_type == "int" else f"g{g}"

    full = [mk_id(100 + i) for i in range(cap)]
    over = [mk_id(200 + i) for i in range(cap + 1)]
    other = [mk_id(300 + i) for i in range(3)]  # v again, another group
    hot = [mk_id(400 + i) for i in range(4 * cap)]
    rows = (
        [(i, mk_grp(1), v.astype(np.float32).tolist()) for i in full]
        + [(i, mk_grp(1), w.astype(np.float32).tolist()) for i in over]
        + [(i, mk_grp(2), v.astype(np.float32).tolist()) for i in other]
        + [(i, mk_grp(2), u.astype(np.float32).tolist()) for i in hot]
    )
    df = spark.createDataFrame(
        rows, f"id {id_type}, grp {grp_type}, embedding array<float>"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = set(_pairs(
            df, tau=0.99, group_col="grp", max_bucket=cap, oversize=oversize,
        ))
    finally:
        spark.conf.set(key, old)
    want = {(a, b) for ids in (full, other) for a in ids for b in ids
            if a < b}
    if oversize == "star":
        want |= {(ids[0], b) for ids in (over, hot) for b in ids[1:]}
    assert got == want


# measured on the sorted-run kernel: the banded rows cross one
# hash-by-bucket exchange, and nothing is cached
LSH_CANDIDATE_EXCHANGES = 1


def test_lsh_plan_one_candidate_exchange_no_cache(spark):
    rows = _mk_vectors(n_base=40)
    df = spark.createDataFrame(
        [(rid, emb, i // 2 % 3) for i, (rid, emb) in enumerate(rows)],
        "id string, embedding array<float>, grp int",
    )
    for kw in ({}, {"group_col": "grp"}):
        pairs = hyperplane_lsh_pairs(
            df, "embedding", "id", tau=0.9, dim=64, **kw
        )
        assert pairs.collect()  # an empty result prunes the plan
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "InMemoryRelation" not in final, final
        by_col = [
            line for line in final.splitlines()
            if "REPARTITION_BY_COL" in line
        ]
        assert len(by_col) == LSH_CANDIDATE_EXCHANGES, final
        assert "_key#" in by_col[0], by_col


@pytest.mark.parametrize("star", [True, False])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_sorted_run_kernel_matches_loop(star, seed):
    """The vectorised pair kernel against a plain loop over buckets, on
    sorted rows with repeated ids, cut into random batch sizes."""
    import pandas as pd

    from cli_p_spark.operators.lsh import _sorted_run_pairs

    cap = 4
    rng = np.random.default_rng(seed)
    n = 400
    pdf = pd.DataFrame({
        "_id": rng.integers(0, 150, n),
        "_key": rng.integers(0, 120, n),  # buckets of 1 to ~3 * cap rows
    }).sort_values(["_key", "_id"], ignore_index=True)
    cuts = np.unique(rng.integers(0, n, 60))
    batches = [pdf.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, n])]
    got = set()
    for out in _sorted_run_pairs(iter(batches), ["_key"], cap, star):
        got |= set(zip(out["src"], out["dst"]))

    want = set()
    for _, ids in pdf.groupby("_key")["_id"]:
        ids = list(ids)
        if len(ids) <= cap:
            want |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
                     if a < b}
        elif star:
            want |= {(ids[0], b) for b in ids[1:] if b != ids[0]}
    sizes = pdf.groupby("_key").size()
    assert (sizes > cap).any() and (sizes.between(2, cap)).any()
    assert got == want
