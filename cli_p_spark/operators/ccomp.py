"""Connected components over mention-pair edges — canonicalization core.

The reference has no analogue (its REPL shows ranked lists); the north_rule
adds canonicalization: mentions whose embeddings are near-duplicates
(cosine >= tau_cc, the self-join semantics of query-index.py:86-99 'i ID'
query-by-example) collapse to one canonical id.

Algorithm: checkpoint and count the self-loop-free edges once, then

  finish:     at most UNION_FIND_MAX_ROWS edges -> ``coalesce(1)`` and a
              vectorized union-find (``_union_find``, NumPy) emit (node,
              component) for every node, roots included.  Spark runs the
              checkpoint and count inside the call; the finish runs when
              the caller consumes the result.
  fallback:   above the cap, the distinct edges go through alternating
              large-star / small-star rounds (Kiveris et al., "Connected
              Components in MapReduce and Beyond", SoCC'14) — O(log^2 n)
              rounds, pure DataFrame ops, no GraphFrames dependency:

    large-star: for each node u, attach every strictly-larger neighbor to
                m(u) = min(N(u) + {u})
    small-star: orient edges high->low; attach every smaller-or-equal
                neighbor and u itself to m(u)

  The rounds stop when the edge set reaches a fixed point (star graphs
  rooted at component minima).  Each round localCheckpoints (or
  cluster-checkpoints when a checkpoint dir is set) to break lineage —
  without it the plan tree doubles per round and the driver OOMs long
  before 10^12 edges.

Union-find kernel: factorize the ids with ``sort=True`` so the smallest
code is the smallest id, hook every edge's two roots onto the smaller one
(``np.minimum.at``), pointer-jump to the roots, repeat until no edge spans
two roots.  A root that stays a local minimum merges in the next pass, so
the roots of a component at least halve every two passes.  Labels only
ever move to smaller codes, so each component ends on its minimum id,
independent of partitioning.

Hub skew (north_rule): a hub entity's mentions form one giant component.
In the finish the hub is one component in one task whose state is
O(edges) — at most UNION_FIND_MAX_ROWS, the size the cap was measured
at.  In the star fallback the min-neighbor aggregation is hub-proof
without salting: min() partial-aggregates map-side (partial_min below the
exchange), so the reducer for a hub key receives one partial row per map
partition; the join in each star phase remains the skew-sensitive
operator and is AQE-skew-splittable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..worker import drop_zip_finders

# edges the single-task finish takes; above it the star rounds run.
# Sized from the finish's peak Python-worker RSS (daemon + worker),
# measured on a 4-core local[4] host over random edge sets with 10-char
# string ids: 1M edges 0.46 GB (uniform pairs over 1M nodes) to 0.50 GB
# (a matching: 2M distinct ids); 2M edges 0.75 to 0.82 GB.  Long ids, a
# matching: 0.32 GB at 1M edges, 0.54 GB at 2M.  2M edges keep the one
# task under ~0.85 GB.
UNION_FIND_MAX_ROWS = 2_000_000

# star rounds the fallback may take; alternating stars converge in
# O(log^2 n) rounds, so reaching this means the edge set is malformed
STAR_MAX_ROUNDS = 50


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


def _union_find(src: np.ndarray, dst: np.ndarray):
    """(ids, root): the sorted distinct ids of the edges (src[i], dst[i])
    and, per id, the code of its component's minimum id."""
    codes, ids = pd.factorize(np.concatenate([src, dst]), sort=True)
    a, b = codes[: len(src)], codes[len(src):]
    root = np.arange(len(ids))
    while True:
        ra, rb = root[a], root[b]
        spans = ra != rb
        if not spans.any():
            return ids, root
        ra, rb = ra[spans], rb[spans]
        low = np.minimum(ra, rb)
        np.minimum.at(root, ra, low)
        np.minimum.at(root, rb, low)
        while True:
            up = root[root]
            if np.array_equal(up, root):
                break
            root = up


def _finish(batches: Iterator[pa.RecordBatch]):
    """(node, component) for every node of the (src, dst) edge batches,
    roots included; nothing when the task holds no rows (it may get no
    batch at all)."""
    drop_zip_finders()
    batches = [b for b in batches if b.num_rows]
    if batches:
        t = pa.Table.from_batches(batches)
        ids, root = _union_find(t.column(0).to_numpy(), t.column(1).to_numpy())
        typ = t.schema.field(0).type
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, typ), pa.array(ids[root], typ)],
            names=["node", "component"])


def connected_components(
    edges: DataFrame, stats: dict | None = None
) -> DataFrame:
    """Returns (node, component) where component = min node id reachable.

    ``edges`` holds undirected (src, dst) pairs of one type (TypeError
    otherwise), each once or twice, either orientation; self-loops and
    edges with a NULL endpoint are dropped.  Deterministic: component
    ids are min string/numeric ids, independent of partitioning.  The
    counted edges and every star round checkpoint reliably when the
    session has a checkpoint dir (the cluster deployment), else locally.
    ``stats``: optional dict that receives {'edge_rows': n, 'rounds': r}
    — n is the count of self-loop-free edges that chose the finish, r is
    0 when the single-task union-find finished, else the star rounds it
    took to converge.
    """
    typ = edges.schema["src"].dataType
    if edges.schema["dst"].dataType != typ:
        raise TypeError(
            f"connected_components: src is {typ.simpleString()} but dst "
            f"is {edges.schema['dst'].dataType.simpleString()}"
        )
    e = _checkpointer(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")),
        "auto",
    )
    n_e = e.count()
    if stats is not None:
        stats["edge_rows"] = n_e
        stats["rounds"] = 0
    if n_e <= UNION_FIND_MAX_ROWS:
        return e.coalesce(1).mapInArrow(_finish, StructType(
            [StructField("node", typ, False),
             StructField("component", typ, False)]))
    e = _checkpointer(e.distinct(), "auto")
    n_e = e.count()
    converged = False
    for rounds in range(1, STAR_MAX_ROUNDS + 1):
        e2 = _checkpointer(_small_star(_large_star(e)), "auto")
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
        # loudly instead
        raise RuntimeError(
            "connected_components did not converge in "
            f"{STAR_MAX_ROUNDS} rounds"
        )
    # e is now (node -> component-min) star edges; add singleton roots
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        e.select(F.col("dst").alias("node")).distinct()
        .withColumn("component", F.col("node"))
    )
    return comp.unionByName(roots).distinct()


def canonical_mapping(
    components: DataFrame, all_nodes: DataFrame
) -> DataFrame:
    """(node, canonical_id) for every ``node`` of ``all_nodes`` — nodes
    in no edge map to themselves."""
    return (
        all_nodes.select("node")
        .distinct()
        .join(components, "node", "left")
        .withColumn("canonical_id", F.coalesce("component", "node"))
        .select("node", "canonical_id")
    )
