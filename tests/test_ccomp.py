"""Connected-components vs a union-find oracle; chains/stars/singletons;
determinism across partitionings."""

import random

import pytest

from cli_p_spark.operators.ccomp import canonical_mapping, connected_components


def union_find_oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to component minimum
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for r, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def random_graph(n_nodes=300, n_edges=350, seed=7):
    rnd = random.Random(seed)
    nodes = [f"m{i:05d}" for i in range(n_nodes)]
    edges = [
        (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    return nodes, edges


@pytest.mark.parametrize("parts", [1, 8])
def test_cc_matches_union_find(spark, parts):
    nodes, edges = random_graph()
    e = spark.createDataFrame(edges, "src string, dst string").repartition(
        parts)
    got = {
        r["node"]: r["component"]
        for r in connected_components(e).collect()
    }
    oracle = union_find_oracle(edges, nodes)
    touched = {a for a, b in edges} | {b for a, b in edges}
    assert got.keys() == touched
    for n in touched:
        assert got[n] == oracle[n], (n, got[n], oracle[n])


def test_cc_long_chain(spark):
    # worst case for label propagation: a 200-node path
    edges = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(200)]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(e).collect()
    assert all(r["component"] == "n0000" for r in got)
    assert len(got) == 201


def test_cc_hub_star(spark):
    # hub-entity shape: one node connected to 500 others (skew case)
    edges = [("hub", f"x{i:04d}") for i in range(500)]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(e).collect()
    assert len(got) == 501
    assert all(r["component"] == "hub" for r in got)


def test_canonical_mapping_covers_singletons(spark):
    nodes, edges = random_graph(n_nodes=50, n_edges=20, seed=3)
    e = spark.createDataFrame(edges, "src string, dst string")
    all_nodes = spark.createDataFrame([(n,) for n in nodes], "node string")
    comps = connected_components(e)
    mapping = {
        r["node"]: r["canonical_id"]
        for r in canonical_mapping(comps, all_nodes).collect()
    }
    assert set(mapping) == set(nodes)
    oracle = union_find_oracle(edges, nodes)
    for n in nodes:
        assert mapping[n] == oracle[n]


def test_cc_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint='reliable' (executor-loss-safe lineage break) returns
    the same components as the local mode, and actually writes RDD
    checkpoint files under the configured dir."""
    import os

    from cli_p_spark.operators.ccomp import connected_components

    chk = str(tmp_path / "chk")
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    sc.setCheckpointDir(chk)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r")],
        "src string, dst string",
    )
    try:
        rel = {
            (r["node"], r["component"])
            for r in connected_components(
                edges, checkpoint="reliable").collect()
        }
    finally:
        # restore the dir: the session is shared, and 'auto' CC and
        # graph calls in later tests would checkpoint under this one
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(before))
    assert sc.getCheckpointDir() == before
    loc = {
        (r["node"], r["component"])
        for r in connected_components(edges, checkpoint="local").collect()
    }
    assert rel == loc
    assert {c for _, c in rel} == {"a", "x", "p"}
    found = []
    for root, _dirs, files in os.walk(chk):
        found.extend(files)
    assert found, "reliable mode must materialize checkpoint files"
