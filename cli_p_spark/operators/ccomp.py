"""Connected components over mention-pair edges — canonicalization core.

The reference has no analogue (its REPL shows ranked lists); the north_rule
adds canonicalization: mentions whose embeddings are near-duplicates
(cosine >= tau_cc, the self-join semantics of query-index.py:86-99 'i ID'
query-by-example) collapse to one canonical id.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — O(log^2 n) rounds, pure
DataFrame ops, no GraphFrames dependency:

  large-star: for each node u, attach every strictly-larger neighbor to
              m(u) = min(N(u) + {u})
  small-star: orient edges high->low; attach every smaller-or-equal
              neighbor and u itself to m(u)

Convergence when the edge set reaches a fixed point (star graphs rooted at
component minima).  Each iteration localCheckpoints (or cluster-checkpoints
when a checkpoint dir is set) to break lineage — without it the plan tree
doubles per round and the driver OOMs long before 10^12 edges.

Hub skew (north_rule): a hub entity's mentions form one giant component.
The min-neighbor aggregation itself is hub-proof WITHOUT salting: min()
partial-aggregates map-side (verified in the physical plan: partial_min
below the exchange), so the reducer for a hub key receives one partial
row per map partition, never the hub's full neighbor list.  The join in
each star phase remains the skew-sensitive operator and is
AQE-skew-splittable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _checkpointer(df: DataFrame, mode: str):
    """Lineage break per CC round.  mode='reliable' uses the cluster
    checkpoint dir (survives executor loss — localCheckpointed lineage
    dies with its executors, which on a real cluster kills a multi-hour
    CC); 'local' uses localCheckpoint (fastest, single-machine);
    'auto' picks reliable iff a checkpoint dir is configured."""
    if mode == "auto":
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
        mode = "reliable" if has_dir else "local"
    if mode == "reliable":
        return df.checkpoint()
    return df.localCheckpoint()


def _min_neighbor(edges: DataFrame) -> DataFrame:
    """min(dst) per src.

    Groups on a RENAMED copy of src: grouping on the join-visible `src`
    attribute trips a PruneFilters optimizer bug in Spark 4.1
    (NoSuchElementException: key not found, constraint lookup through
    the aggregate alias) when the edge plan carries rich constraints —
    the fresh attribute isolates the aggregate from the downstream
    filter constraints and is semantically identical."""
    return (
        edges.select(F.col("src").alias("_mn"), "dst")
        .groupBy("_mn").agg(F.min("dst").alias("min_dst"))
        .select(F.col("_mn").alias("src"), "min_dst")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = _min_neighbor(sym).withColumn(
        "m", F.least("min_dst", "src")
    ).select("src", "m")
    # no distinct here (round 7): the only consumer is _small_star,
    # whose min-aggregations and final distinct are duplicate-invariant
    # — dropping it removes one full exchange per CC round (the fixed
    # point is checked on _small_star's distinct output, unchanged)
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = _min_neighbor(directed).withColumn(
        "m", F.least("min_dst", "src")
    ).select("src", "m")
    joined = directed.join(m, "src")
    to_m = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_m = m.select(F.col("src"), F.col("m").alias("dst"))
    return (
        to_m.unionByName(self_m)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Returns (node, component) where component = min node id reachable.

    ``edges`` is undirected (each pair once or twice, either orientation).
    Deterministic: component ids are min string/numeric ids, independent
    of partitioning.  ``checkpoint``: 'auto' (reliable iff
    sc.setCheckpointDir was called — the cluster deployment), 'reliable',
    or 'local'.  ``stats``: optional dict that receives
    {'rounds': n} — bench evidence that the alternating stars converged
    in the expected O(log^2 n) rounds.
    """
    e = _checkpointer(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        checkpoint,
    )
    n_e = e.count()
    converged = False
    for rounds in range(1, max_iter + 1):
        e2 = _checkpointer(_small_star(_large_star(e)), checkpoint)
        # fixed point: edge sets equal.  Both sides are distinct() sets,
        # so e2 == e  iff  |e2| == |e| and e2 \ e is empty — one cheap
        # count over the checkpointed partitions decides almost every
        # round, and only a count-equal round pays the single anti-join
        # containment probe.  (Round 7: replaces two exceptAll jobs —
        # four exchanges — per round.)
        n_e2 = e2.count()
        changed = 1
        if n_e2 == n_e:
            changed = (
                e2.join(e, ["src", "dst"], "left_anti").limit(1).count()
            )
        e, n_e = e2, n_e2
        if changed == 0:
            converged = True
            if stats is not None:
                stats["rounds"] = rounds
            break
    if not converged:
        # a non-star edge set would silently emit MULTIPLE component ids
        # per node (corrupt dedup/canonicalization downstream) — fail
        # loudly instead; alternating stars converge in O(log^2 n)
        # rounds, so hitting 50 means something is genuinely wrong
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # e is now (node -> component-min) star edges; add singleton roots
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        e.select(F.col("dst").alias("node")).distinct()
        .withColumn("component", F.col("node"))
    )
    return comp.unionByName(roots).distinct()


def canonical_mapping(
    components: DataFrame, all_nodes: DataFrame, node_col: str = "node"
) -> DataFrame:
    """(node, canonical_id) for every node — nodes in no edge map to
    themselves."""
    return (
        all_nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .join(components, "node", "left")
        .withColumn("canonical_id", F.coalesce("component", "node"))
        .select("node", "canonical_id")
    )
