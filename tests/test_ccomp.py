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
    """With a session checkpoint dir set (the cluster deployment), CC
    checkpoints reliably: the same components as without one, and RDD
    checkpoint files under that dir."""
    import os

    chk = str(tmp_path / "chk")
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r")],
        "src string, dst string",
    )

    def components():
        return {(r["node"], r["component"])
                for r in connected_components(edges).collect()}

    sc.setCheckpointDir(chk)
    try:
        rel = components()
    finally:
        # clear the dir again: the session is shared, and CC and graph
        # calls in later tests would checkpoint under this one
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(before))
    assert sc.getCheckpointDir() == before
    assert rel == components()
    assert {c for _, c in rel} == {"a", "x", "p"}
    found = []
    for root, _dirs, files in os.walk(chk):
        found.extend(files)
    assert found, "a checkpoint dir must receive checkpoint files"


@pytest.mark.parametrize("finish", ["union_find", "star"])
def test_cc_property_matches_oracle(spark, monkeypatch, finish):
    """Randomized: 10 seeded graphs x 1/3/8 partitions x long/string ids
    against the union-find oracle, once through the single-task finish
    and once with the star rounds forced (a cap of 0 edges).  The
    seeds' graphs sit on disjoint node ranges of one edge frame, so one
    call checks all ten."""
    from cli_p_spark.operators import ccomp

    if finish == "star":
        monkeypatch.setattr(ccomp, "UNION_FIND_MAX_ROWS", 0)
    edges = []
    for seed in range(10):
        rnd = random.Random(seed)
        n_nodes = rnd.randrange(20, 120)
        edges += [
            (seed * 1000 + rnd.randrange(n_nodes),
             seed * 1000 + rnd.randrange(n_nodes))
            for _ in range(rnd.randrange(10, 150))
        ]
    random.Random(99).shuffle(edges)
    for ids in ("long", "string"):
        typed = edges if ids == "long" else [
            (f"v{a:05d}", f"v{b:05d}") for a, b in edges]
        links = [e for e in typed if e[0] != e[1]]
        touched = {a for e in links for a in e}
        oracle = union_find_oracle(links, sorted(touched))
        df = spark.createDataFrame(typed, f"src {ids}, dst {ids}")
        for parts in (1, 3, 8):
            stats = {}
            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    df.repartition(parts), stats=stats).collect()
            }
            assert got == oracle, (ids, parts)
            assert (stats["rounds"] == 0) == (finish == "union_find")
            assert stats["edge_rows"] == len(links)


@pytest.mark.parametrize("ids", ["long", "string"])
def test_cc_edge_inputs_return_empty(spark, ids):
    """No rows, only self-loops, or only NULL endpoints: an empty
    (node, component) frame with the input's id type."""
    one, two = (1, 2) if ids == "long" else ("a", "b")
    cases = {
        "empty": [],
        "self_loops": [(one, one), (two, two)],
        "null_endpoints": [(one, None), (None, two), (None, None)],
    }
    for name, rows in cases.items():
        e = spark.createDataFrame(rows, f"src {ids}, dst {ids}")
        out = connected_components(e.repartition(3))
        assert out.collect() == [], name
        assert [f.name for f in out.schema] == ["node", "component"]
        assert all(f.dataType == e.schema["src"].dataType
                   for f in out.schema), (name, out.schema)


def test_cc_partitions_without_batches(spark):
    """Most of 8 input partitions hold no edge; NULL endpoints beside real
    edges are dropped."""
    e = spark.createDataFrame(
        [("a", "b"), ("c", None), ("b", "d")], "src string, dst string"
    ).repartition(8)
    got = {r["node"]: r["component"]
           for r in connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "d": "a"}


def test_cc_rejects_mixed_id_types(spark):
    """src and dst of different types fail loudly instead of being cast."""
    e = spark.createDataFrame([(1, 2)], "src int, dst long")
    with pytest.raises(TypeError, match="src is int but dst is bigint"):
        connected_components(e)
