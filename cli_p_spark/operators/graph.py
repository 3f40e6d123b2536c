"""Graph analytics over the materialized knowledge graph.

The reference stops at "display the top-k matches" (query-index.py:78-84);
a KG-construction pipeline's output is a GRAPH, and the first questions a
user asks of it are graph-analytic: which entities matter (PageRank),
how connected is it (degrees).  These run on the (subj, obj) edge list
the triple materialization stage writes.

Determinism design: PageRank is computed in FIXED-POINT INTEGER
arithmetic (micro-units).  Floating-point PageRank is NOT reproducible
across engines — f64 addition is non-associative, and Spark's partial
aggregation order differs run-to-run and engine-to-engine.  With integer
micro-units every operation (integer division for the per-edge
contribution, exact integer sums, integer damping) is associative and
total-order-free, so the SAME ranks come out of Spark, DuckDB, and a
pure-Python loop — bit-exact, hash-checkable.  Precision: 1e-6 of a rank
unit per node per iteration (the truncation of r//outdeg), far below any
ranking-relevant signal at 5 iterations.

Scale shape: each iteration is one shuffle (groupBy dst) plus one
broadcast-or-shuffle join on src; state per node is ONE long.  Overflow
headroom: contributions sum to <= total mass = n_nodes * unit, so
damping multiplication stays in int64 while n_nodes * unit * damping_ppm
< 2^63 (n_nodes < ~10^10 at the defaults; drop `unit` to 10^4 for a
10^12-node graph)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UNIT = 1_000_000          # fixed-point scale: 1.0 rank unit
DAMPING_PPM = 850_000     # 0.85 in parts-per-million


def graph_nodes(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Distinct node set of an edge list (column `node`)."""
    return (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    unit: int = UNIT,
    damping_ppm: int = DAMPING_PPM,
    checkpoint_every: int = 5,
    checkpoint: str = "auto",
    seeds: DataFrame | None = None,
    tol_fp: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(node, rank_fp) after ``iterations`` synchronous PageRank updates
    in integer micro-units (see module docstring for why integer):

        contrib(u->v) = r_u div outdeg_u          (integer division)
        r'_v = base_v + (damping_ppm * sum contribs) div 10^6
        base_v = ((10^6 - damping_ppm) * unit) div 10^6   (teleport set)

    Every node in the teleport set starts at ``unit``.  With ``seeds``
    None the teleport set is ALL nodes (classic PageRank).  With
    ``seeds`` (one column ``node``) this is PERSONALIZED PageRank: the
    teleport mass restarts only at the seeds, so rank_fp measures
    importance RELATIVE TO the seed entities — the "entities related to
    X" ranking a KG serves; non-seeds start at 0 and earn rank only
    through paths from the seeds.  Same integer arithmetic, same
    bit-exactness, same per-iteration cost (the seed flag is one more
    column on the persisted node frame).

    Dangling-node mass (no out-edges) evaporates, the common
    simplification (Page et al. 1999 §2.1 note); ranks remain a total
    preorder of link importance.  rank_fp / unit is the float rank.

    Iteration-loop scale shape: each loop turn adds two joins + one agg
    to the rank frame's lineage; unbroken, the final action replays a
    2*k-join DAG and the plan tree grows without bound (the exact blowup
    connected_components already breaks with its checkpointer).  So the
    static inputs (edges, nodes, outdeg) are persisted ONCE, and the
    rank frame's lineage is cut every ``checkpoint_every`` iterations
    via ccomp's `_checkpointer` (mode semantics identical: 'reliable'
    for cluster runs with a checkpoint dir, 'local' single-machine,
    'auto' picks).  Checkpointing is a lineage/plan concern only — the
    integer ranks are bit-identical with or without it.

    ``tol_fp``: optional convergence tolerance in fixed-point micro-units.
    When set, ``iterations`` becomes a MAXIMUM: after each update the L1
    delta sum(|r_new - r_old|) is computed (an exact integer — the early
    exit stays deterministic and bit-exact; exiting at iteration m returns
    the same ranks as running exactly m fixed iterations), and the loop
    stops once delta <= tol_fp.  Real KG ranking runs to tolerance, not a
    fixed count — a converged graph stops paying per-iteration shuffles.
    Cost: one extra action (join + abs-diff agg) per iteration, only on
    the tol path; rank frames are persisted per iteration so the delta
    job doesn't recompute the chain.  ``stats`` (dict) receives
    {'iterations': m, 'final_delta_fp': d} when provided."""
    from .ccomp import _checkpointer

    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).persist()
    nodes = graph_nodes(e, "_src", "_dst")
    # round-7: the contribution join runs EVERY iteration against the
    # static edge frame — pre-hash it by the join key once (and attach
    # the out-degree below, removing the second per-iteration join), so
    # each iteration only exchanges the rank frame, never the edges
    if seeds is None:
        nodes = nodes.select("node", F.lit(1).alias("_t"))
    else:
        nodes = nodes.join(
            F.broadcast(
                seeds.select("node").distinct()
                .select("node", F.lit(1).alias("_t"))
            ),
            "node",
            "left",
        ).select("node", F.coalesce("_t", F.lit(0)).alias("_t"))
    nodes = nodes.persist()
    outdeg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    parts = e.sparkSession.sparkContext.defaultParallelism
    ed = (
        e.join(outdeg, "_src")
        .repartition(parts, F.col("_src"))
        .persist()
    )
    base = ((1_000_000 - damping_ppm) * unit) // 1_000_000

    r = nodes.select(
        "node", (F.lit(unit) * F.col("_t")).cast("long").alias("rank_fp")
    )
    if tol_fp is not None:
        r = r.persist()
    for it in range(1, iterations + 1):
        contribs = (
            ed.join(r, ed["_src"] == r["node"])
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank_fp div _deg").alias("_c"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("_c").alias("_s"))
        r_new = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(base) * F.col("_t")
                + F.expr(
                    f"({damping_ppm} * coalesce(_s, 0L)) div 1000000"
                )
            ).cast("long").alias("rank_fp"),
        )
        if checkpoint_every and it % checkpoint_every == 0 and it < iterations:
            r_new = _checkpointer(r_new, checkpoint)
        if tol_fp is None:
            r = r_new
            continue
        r_new = r_new.persist()
        delta = (
            r_new.join(
                r.select("node", F.col("rank_fp").alias("_prev")), "node"
            )
            .agg(
                F.sum(F.abs(F.col("rank_fp") - F.col("_prev"))).alias("_d")
            )
            .collect()[0]["_d"]
        )
        r.unpersist()
        r = r_new
        if stats is not None:
            stats["iterations"] = it
            stats["final_delta_fp"] = delta
        if delta <= tol_fp:
            break
    from .lsh import _CacheHandle

    # caller unpersists the static-input caches once ranks are
    # materialized (same convention as lsh/minhash `.signature_cache`);
    # on the tol path the returned rank frame itself is persisted (the
    # delta job needed it) and rides in the same handle
    handles = (e, nodes, ed) if tol_fp is None else (e, nodes, ed, r)
    r.pagerank_cache = _CacheHandle(*handles)
    return r


def _pagerank_sql_parts(
    edges_rel: str,
    iterations: int,
    unit: int,
    damping_ppm: int,
    seeds_sql: str | None,
) -> list[str]:
    """Shared CTE chain for the unrolled PageRank twins: e / outdeg /
    nodes / i0..i{iterations}.  pagerank_sql selects the last level;
    pagerank_tol_sql appends delta CTEs and selects the converged one."""
    base = ((1_000_000 - damping_ppm) * unit) // 1_000_000
    # AS MATERIALIZED: e/nodes are referenced once per unrolled level
    # and DuckDB inlines plain CTEs per reference (re-scanning the
    # relation each time); the i{k} chain is linear either way but
    # materializing keeps each level computed exactly once.
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst FROM {edges_rel})",
        "outdeg AS MATERIALIZED "
        "(SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
    ]
    if seeds_sql is None:
        parts.append(
            "nodes AS MATERIALIZED (SELECT node, 1 AS t FROM "
            "(SELECT src AS node FROM e UNION SELECT dst FROM e))"
        )
    else:
        parts.append(f"seeds AS (SELECT DISTINCT node FROM ({seeds_sql}))")
        parts.append(
            "nodes AS MATERIALIZED (SELECT n.node, "
            "CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS t FROM "
            "(SELECT src AS node FROM e UNION SELECT dst FROM e) n "
            "LEFT JOIN seeds s ON s.node = n.node)"
        )
    parts.append(
        f"i0 AS (SELECT node, CAST({unit} * t AS BIGINT) AS r FROM nodes)"
    )
    for k in range(1, iterations + 1):
        parts.append(f"""i{k} AS MATERIALIZED (
  SELECT n.node,
         CAST({base} * n.t + ({damping_ppm} * COALESCE(SUM(c.contrib), 0))
                       // 1000000 AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node, p.r // d.deg AS contrib
    FROM e JOIN i{k - 1} p ON p.node = e.src
           JOIN outdeg d ON d.src = e.src) c ON c.node = n.node
  GROUP BY n.node, n.t)""")
    return parts


def pagerank_sql(
    edges_rel: str,
    iterations: int = 5,
    unit: int = UNIT,
    damping_ppm: int = DAMPING_PPM,
    seeds_sql: str | None = None,
) -> str:
    """DuckDB twin of pagerank_fixed_point over an edge relation (src,
    dst) — the 5 synchronous updates unrolled as chained CTEs (explicit
    and engine-portable; recursive-CTE grouping restrictions vary).
    Integer ops only => bit-identical to the Spark result.  With
    ``seeds_sql`` (selects `node`), the personalized variant: teleport
    flag t restricts both the start vector and the base term."""
    parts = _pagerank_sql_parts(
        edges_rel, iterations, unit, damping_ppm, seeds_sql
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, r AS rank_fp FROM i{iterations}"
    )


def pagerank_tol_sql(
    edges_rel: str,
    max_iterations: int = 8,
    tol_fp: int = 0,
    unit: int = UNIT,
    damping_ppm: int = DAMPING_PPM,
) -> str:
    """DuckDB twin of the TOL-TERMINATED pagerank_fixed_point: unroll
    ``max_iterations`` levels, compute the exact integer L1 delta at
    every level, and select the ranks of the FIRST level whose delta is
    <= ``tol_fp`` (the cap level if none converges) — i.e. the oracle
    re-derives the stop iteration from the same rule instead of being
    told it.  Emits (node, rank_fp, iterations_run, final_delta_fp);
    the constant columns make the early exit part of the hash-audited
    record.  SUM(ABS(..)) is HUGEINT in DuckDB — cast back to BIGINT to
    match Spark's long."""
    parts = _pagerank_sql_parts(
        edges_rel, max_iterations, unit, damping_ppm, None
    )
    deltas = " UNION ALL ".join(
        f"SELECT {k} AS it, (SELECT CAST(SUM(ABS(a.r - b.r)) AS BIGINT) "
        f"FROM i{k} a JOIN i{k - 1} b ON a.node = b.node) AS d"
        for k in range(1, max_iterations + 1)
    )
    parts.append(f"deltas AS ({deltas})")
    parts.append(
        f"chosen AS (SELECT CAST(COALESCE("
        f"(SELECT MIN(it) FROM deltas WHERE d <= {tol_fp}),"
        f" {max_iterations}) AS INTEGER) AS it)"
    )
    steps = " UNION ALL ".join(
        f"SELECT {k} AS it, node, r FROM i{k}"
        for k in range(1, max_iterations + 1)
    )
    parts.append(f"steps AS ({steps})")
    return (
        "WITH " + ",\n".join(parts)
        + """
SELECT s.node, s.r AS rank_fp, c.it AS iterations_run,
       (SELECT d FROM deltas WHERE deltas.it = c.it) AS final_delta_fp
FROM steps s JOIN chosen c ON s.it = c.it"""
    )


def khop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: str = "auto",
) -> DataFrame:
    """(node, hops): every node reachable from any seed in <= ``k``
    directed hops, with hops = BFS level (the minimum distance; seeds
    are level 0).  The multi-hop KG query — "what is within 2 hops of
    this entity" — that a triple store answers with index nested loops
    and Spark answers with level-synchronous BFS:

    per hop: frontier ⋈ edges on src (one shuffle) -> distinct dst ->
    anti join visited (one shuffle) -> new frontier.  Work per hop is
    |frontier ⋈ edges|, not |graph|; `hops` is deterministic by
    construction (level-synchronous => first level wins, no race on
    min-distance).  Lineage is cut with ccomp's checkpointer every hop
    (frontiers chain joins otherwise), and `visited` is persisted —
    the same plan-depth discipline as pagerank/connected components.

    ``seeds``: one column named ``node``.  Hub-skew note: a frontier
    containing a hub fans out to its full adjacency in one hop; the
    join shuffles on src, so AQE's skew split handles a hot src key."""
    from .ccomp import _checkpointer

    # round-7: the frontier joins this static frame every hop — persist
    # it pre-hashed by the join key so only the frontier side exchanges
    e = edges.select(
        F.col(src_col).alias("_es"), F.col(dst_col).alias("_ed")
    ).repartition(
        edges.sparkSession.sparkContext.defaultParallelism, F.col("_es")
    ).persist()
    frontier = seeds.select("node").distinct()
    visited = frontier.select("node", F.lit(0).alias("hops")).persist()
    for depth in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_es"])
            .select(F.col("_ed").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "anti")
        )
        nxt = _checkpointer(nxt, checkpoint)
        if nxt.isEmpty():
            break
        old = visited
        visited = old.unionByName(
            nxt.select("node", F.lit(depth).alias("hops"))
        ).persist()
        visited.count()  # materialize before dropping the parent cache
        old.unpersist()
        frontier = nxt
    from .lsh import _CacheHandle

    out = visited
    out.khop_cache = _CacheHandle(e, visited)
    return out


def khop_sql(edges_rel: str, seeds_sql: str, k: int) -> str:
    """DuckDB twin of khop_reachability: level-synchronous BFS unrolled
    as chained CTEs (one per hop) over an edge relation (src, dst);
    ``seeds_sql`` selects the seed column as `node`.  Set semantics only
    (DISTINCT + NOT EXISTS anti per level — NOT the NOT IN form, whose
    three-valued logic empties every later frontier if a single NULL
    dst slips into the edge relation, diverging from Spark's null-safe
    anti join) — integer/string outputs, no floats, bit-exact across
    engines.  Levels are ``AS MATERIALIZED``: each v{{i}} is referenced
    by every later level's NOT EXISTS union, and DuckDB inlines plain
    CTEs per reference — exponential recomputation in depth."""
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst FROM {edges_rel})",
        "v0 AS MATERIALIZED "
        f"(SELECT DISTINCT node, 0 AS hops FROM ({seeds_sql}))",
    ]
    for i in range(1, k + 1):
        prev_vs = " UNION ALL ".join(f"SELECT node FROM v{j}" for j in range(i))
        parts.append(
            f"""v{i} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node, {i} AS hops
  FROM v{i - 1} f JOIN e ON e.src = f.node
  WHERE NOT EXISTS (SELECT 1 FROM ({prev_vs}) p WHERE p.node = e.dst))"""
        )
    union = " UNION ALL ".join(
        f"SELECT node, hops FROM v{i}" for i in range(k + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\n{union}"


def _degree_oriented(edges, src_col, dst_col):
    """(e, deg, oriented): the canonical undirected simple graph
    (u < v distinct pairs), per-node degrees, and the degree-ordered
    orientation x -> y with the (degree, node)-smaller endpoint first,
    carrying the head's degree ``_dy`` (Suri & Vassilvitskii WWW'11 —
    per-vertex out-fan O(sqrt(m)) on any graph, hub-proof).  SHARED by
    triangle_count and clustering_coefficients so the orientation
    tie-break lives in exactly one place; ``e`` and ``oriented`` are
    persisted — callers unpersist them via their cache handles."""
    u, v = F.col("_u"), F.col("_v")
    # persisted (round 7, ADVICE r6): callers consume `e` again for edge
    # counts and `deg` for the final degree join — unpersisted, each of
    # those re-ran the full distinct-canonicalization exchange over the
    # raw edge input
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_v"),
        )
        .filter(u != v)
        .distinct()
        .persist()
    )
    deg = (
        e.select(u.alias("_n"))
        .unionByName(e.select(v.alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    du = deg.select(F.col("_n").alias("_u"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("_n").alias("_v"), F.col("_d").alias("_dv"))
    keyed = e.join(du, "_u").join(dv, "_v")
    lo_first = F.struct("_du", "_u") < F.struct("_dv", "_v")
    oriented = keyed.select(
        F.when(lo_first, u).otherwise(v).alias("_x"),
        F.when(lo_first, v).otherwise(u).alias("_y"),
        F.when(lo_first, F.col("_dv")).otherwise(F.col("_du")).alias("_dy"),
    ).persist()
    return e, deg, oriented


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One row (n_edges, n_wedges, n_triangles) for the UNDIRECTED
    simple graph underlying the edge list — the clustering/cohesion
    diagnostic of the entity graph (how clique-y are co-mentions).

    Degree-ordered orientation (the standard scale trick; Suri & Vassilvitskii
    WWW'11 "Counting triangles and the curse of the last reducer"):
    each undirected edge is oriented from its (degree, node)-smaller
    endpoint to the larger, so every vertex's out-degree is O(sqrt(m))
    on any graph — a 10^8-degree hub generates wedges only from its
    LOW-degree neighbors' perspective, never the hub's own quadratic
    fan.  Wedges: oriented-adjacency self-join on the apex; triangles:
    wedge endpoints joined back against oriented edges.  Two shuffle
    joins + one count; all integers, bit-exact on any engine."""
    e, deg, oriented = _degree_oriented(edges, src_col, dst_col)
    a = oriented.select("_x", F.col("_y").alias("_p"),
                        F.col("_dy").alias("_dp"))
    b = oriented.select("_x", F.col("_y").alias("_q"),
                        F.col("_dy").alias("_dq"))
    wedges = a.join(b, "_x").filter(
        F.struct("_dp", "_p") < F.struct("_dq", "_q")
    )
    closing = oriented.select(
        F.col("_x").alias("_p"), F.col("_y").alias("_q")
    )
    tri = wedges.join(closing, ["_p", "_q"], "semi")
    out = (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(wedges.agg(F.count(F.lit(1)).alias("n_wedges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )
    from .lsh import _CacheHandle

    out.triangle_cache = _CacheHandle(e, oriented)
    return out


def triangle_sql(edges_rel: str) -> str:
    """DuckDB twin of triangle_count over an edge relation (src, dst):
    same canonicalization, same (degree, node) orientation (row-value
    comparisons), same wedge/closure joins — integer counts only."""
    return f"""
WITH raw AS (SELECT src, dst FROM {edges_rel}),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst),
deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
oriented AS (
  SELECT CASE WHEN (a.d, e.u) < (b.d, e.v) THEN e.u ELSE e.v END AS x,
         CASE WHEN (a.d, e.u) < (b.d, e.v) THEN e.v ELSE e.u END AS y,
         CASE WHEN (a.d, e.u) < (b.d, e.v) THEN b.d ELSE a.d END AS dy
  FROM e JOIN deg a ON a.n = e.u JOIN deg b ON b.n = e.v),
wedges AS (
  SELECT a.x, a.y AS p, b.y AS q
  FROM oriented a JOIN oriented b ON a.x = b.x
  WHERE (a.dy, a.y) < (b.dy, b.y)),
tri AS (
  SELECT w.* FROM wedges w
  WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.x = w.p AND o.y = w.q))
SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*) FROM wedges) AS n_wedges,
       (SELECT COUNT(*) FROM tri) AS n_triangles
"""


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: str = "auto",
) -> DataFrame:
    """(node, label) after ``iterations`` SYNCHRONOUS label-propagation
    updates over the undirected simple graph — community detection for
    the entity graph (Raghavan et al. 2007, made deterministic): every
    node starts labeled with itself; each round every node adopts the
    most frequent label among its neighbors, ties broken by MINIMUM
    label.  Synchronous updates + total-order tie-break = the same
    labels on any engine, any partitioning (the async variant's
    update-order dependence is exactly what a distributed setting
    cannot reproduce).  Fixed iteration count, not convergence:
    synchronous LPA can 2-cycle on bipartite structures, so a fixed
    budget is the honest termination rule.

    Scale shape: per round one groupBy(node, label) count (map-side
    partial agg — a hub's repeated neighbor labels collapse within
    partitions) + one max join + one min-label agg; label state is one
    row per node; lineage cut every round via ccomp's checkpointer.
    All strings/ints — hash-checkable cross-engine."""
    from .ccomp import _checkpointer
    from .lsh import _CacheHandle

    sym = (
        edges.select(F.col(src_col).alias("_a"), F.col(dst_col).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("_a"), F.col(src_col).alias("_b")
            ).filter(F.col("_a") != F.col("_b"))
        )
        .distinct()
        .persist()
    )
    labels = sym.select(F.col("_a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iterations):
        counts = (
            sym.join(labels, sym["_b"] == labels["node"])
            .groupBy(F.col("_a").alias("n"), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        mx = counts.groupBy("n").agg(F.max("_c").alias("_mx"))
        labels = (
            counts.join(mx, "n")
            .filter(F.col("_c") == F.col("_mx"))
            .groupBy("n")
            .agg(F.min("label").alias("label"))
            .select(F.col("n").alias("node"), "label")
        )
        labels = _checkpointer(labels, checkpoint)
    labels.lpa_cache = _CacheHandle(sym)
    return labels


def lpa_sql(edges_rel: str, iterations: int = 4) -> str:
    """DuckDB twin of label_propagation — the synchronous rounds
    unrolled as chained CTEs (count -> max -> min-label), same
    tie-break, integer/string outputs only.  ``AS MATERIALIZED``: each
    c{{i}} is referenced twice (m{{i}} and l{{i}}), so plain-CTE
    inlining doubles the work per round — 2^iterations overall."""
    parts = [
        f"""sym AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM {edges_rel} WHERE src <> dst
    UNION ALL
    SELECT dst, src FROM {edges_rel} WHERE src <> dst))""",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label"
        " FROM sym)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT s.a AS n, l.label, COUNT(*) AS c
  FROM sym s JOIN l{i - 1} l ON l.node = s.b
  GROUP BY s.a, l.label),
m{i} AS MATERIALIZED (SELECT n, MAX(c) AS mx FROM c{i} GROUP BY n),
l{i} AS MATERIALIZED (
  SELECT c.n AS node, MIN(c.label) AS label
  FROM c{i} c JOIN m{i} m ON m.n = c.n AND c.c = m.mx
  GROUP BY c.n)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, label FROM l{iterations}"
    )


def _multi_source_bfs(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src_col: str,
    dst_col: str,
    checkpoint: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared level-synchronous multi-source BFS: returns (visited, e)
    where visited = (root, node, dist) for every node within
    ``max_hops`` directed hops of each source (dist = BFS level, root
    itself at 0) and e is the persisted projected edge frame.  Both
    frames are PERSISTED — the caller owns unpersisting them (the
    centrality operators hand them to their `_CacheHandle`).  Work per
    level is |frontier⋈edges|, frontiers are checkpointed — the
    khop/closeness plan discipline, factored out so every sampled-source
    centrality (closeness, harmonic) runs the identical traversal."""
    from .ccomp import _checkpointer

    e = edges.select(
        F.col(src_col).alias("_es"), F.col(dst_col).alias("_ed")
    ).persist()
    frontier = sources.select("node").distinct().select(
        F.col("node").alias("root"), F.col("node")
    )
    visited = frontier.select(
        "root", "node", F.lit(0).alias("dist")
    ).persist()
    for depth in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_es"])
            .select("root", F.col("_ed").alias("node"))
            .distinct()
            .join(visited.select("root", "node"), ["root", "node"], "anti")
        )
        nxt = _checkpointer(nxt, checkpoint)
        if nxt.isEmpty():
            break
        old = visited
        visited = old.unionByName(
            nxt.select("root", "node", F.lit(depth).alias("dist"))
        ).persist()
        visited.count()  # materialize before dropping the parent cache
        old.unpersist()
        frontier = nxt
    return visited, e


def closeness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: str = "auto",
) -> DataFrame:
    """(root, n_reached, total_dist, closeness) — closeness centrality
    of each source node over the directed graph: multi-source
    level-synchronous BFS (khop_reachability generalized to carry the
    root through the frontier), then closeness = n_reached / total_dist
    (Bavelas' classic definition restricted to the reachable set, the
    standard form for disconnected graphs).  n_reached excludes the
    root itself; roots reaching nothing get closeness 0.0.

    Exactness: distances are BFS levels (integers); closeness is ONE
    int/int IEEE division — bit-identical cross-engine.  Scale shape:
    identical to khop — per level one frontier⋈edges shuffle + one
    (root, node) anti join, work |frontier⋈edges| not |graph|·|sources|;
    sampled-source closeness (|sources| = S) is the standard
    approximation for centrality at 10^9-node graphs (Eppstein-Wang),
    and S rides in the frontier key, not in extra passes.  Frontiers
    are checkpointed every level (ccomp's checkpointer discipline).

    ``sources``: one column named ``node``."""
    from .lsh import _CacheHandle

    visited, e = _multi_source_bfs(
        edges, sources, max_hops, src_col, dst_col, checkpoint
    )
    reached = visited.filter(F.col("dist") > 0)
    agg = (
        visited.select("root").distinct()
        .join(
            reached.groupBy("root").agg(
                F.count(F.lit(1)).alias("n_reached"),
                F.sum("dist").alias("total_dist"),
            ),
            "root",
            "left",
        )
        .select(
            "root",
            F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
            F.coalesce("total_dist", F.lit(0)).alias("total_dist"),
        )
        .withColumn(
            "closeness",
            F.when(
                F.col("total_dist") > 0,
                F.col("n_reached").cast("double")
                / F.col("total_dist").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )
    out = agg
    out.closeness_cache = _CacheHandle(e, visited)
    return out


def closeness_sql(edges_rel: str, seeds_sql: str, max_hops: int = 6) -> str:
    """DuckDB twin of closeness_centrality: per-level CTEs carrying the
    root (khop_sql's NOT EXISTS discipline, keyed on (root, node));
    same integer distances, same single division.  Levels are
    ``AS MATERIALIZED`` (khop_sql's inlining rationale)."""
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst FROM {edges_rel})",
        f"v0 AS MATERIALIZED (SELECT DISTINCT node AS root, node,"
        f" 0 AS dist FROM ({seeds_sql}))",
    ]
    for i in range(1, max_hops + 1):
        prev = " UNION ALL ".join(
            f"SELECT root, node FROM v{j}" for j in range(i)
        )
        parts.append(
            f"""v{i} AS MATERIALIZED (
  SELECT DISTINCT f.root, e.dst AS node, {i} AS dist
  FROM v{i - 1} f JOIN e ON e.src = f.node
  WHERE NOT EXISTS (SELECT 1 FROM ({prev}) p
                    WHERE p.root = f.root AND p.node = e.dst))"""
        )
    allv = " UNION ALL ".join(
        f"SELECT root, node, dist FROM v{i}" for i in range(max_hops + 1)
    )
    return f"""WITH {",".join(parts)},
av AS ({allv}),
agg AS (
  SELECT root,
         COUNT(*) FILTER (WHERE dist > 0) AS n_reached,
         COALESCE(SUM(dist) FILTER (WHERE dist > 0), 0) AS total_dist
  FROM av GROUP BY root)
SELECT root, CAST(n_reached AS BIGINT) AS n_reached,
       CAST(total_dist AS BIGINT) AS total_dist,
       CASE WHEN total_dist > 0
            THEN CAST(n_reached AS DOUBLE) / CAST(total_dist AS DOUBLE)
            ELSE 0.0 END AS closeness
FROM agg"""


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: str = "auto",
) -> DataFrame:
    """(root, n_reached, harmonic_fp, harmonic) — harmonic centrality
    of each source over the directed graph: sum over reached nodes v of
    1/dist(v) (Boldi-Vigna's preferred centrality for disconnected
    graphs — unreachable nodes contribute 0 instead of poisoning the
    mean, so no reachable-set normalization debate).  Multi-source BFS
    identical to closeness (same sampled-sources scale shape: the
    Eppstein-Wang estimator rides the frontier key).

    Exactness: float 1/d sums are order-sensitive, so the sum is
    computed as an EXACT INTEGER first — with L = lcm(1..max_hops),
    every term 1/d == (L div d)/L with L div d exact, so
    harmonic_fp = sum(L div dist) is an associative integer sum and
    harmonic = harmonic_fp / L is ONE IEEE division — bit-identical
    cross-engine by construction (the closeness/PageRank fixed-point
    discipline applied to reciprocal distances).

    ``sources``: one column named ``node``."""
    import math

    from .lsh import _CacheHandle

    lcm = math.lcm(*range(1, max_hops + 1))
    visited, e = _multi_source_bfs(
        edges, sources, max_hops, src_col, dst_col, checkpoint
    )
    reached = visited.filter(F.col("dist") > 0)
    out = (
        visited.select("root").distinct()
        .join(
            reached.groupBy("root").agg(
                F.count(F.lit(1)).alias("n_reached"),
                F.sum(F.expr(f"{lcm} div dist")).alias("harmonic_fp"),
            ),
            "root",
            "left",
        )
        .select(
            "root",
            F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
            F.coalesce("harmonic_fp", F.lit(0)).cast("long")
            .alias("harmonic_fp"),
        )
        .withColumn(
            "harmonic",
            F.col("harmonic_fp").cast("double") / F.lit(float(lcm)),
        )
    )
    out.harmonic_cache = _CacheHandle(e, visited)
    return out


def harmonic_sql(edges_rel: str, seeds_sql: str, max_hops: int = 6) -> str:
    """DuckDB twin of harmonic_centrality: the closeness_sql BFS CTEs
    (``AS MATERIALIZED``, khop_sql's inlining rationale), then the
    same lcm fixed-point sum + single division."""
    import math

    lcm = math.lcm(*range(1, max_hops + 1))
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst FROM {edges_rel})",
        f"v0 AS MATERIALIZED (SELECT DISTINCT node AS root, node,"
        f" 0 AS dist FROM ({seeds_sql}))",
    ]
    for i in range(1, max_hops + 1):
        prev = " UNION ALL ".join(
            f"SELECT root, node FROM v{j}" for j in range(i)
        )
        parts.append(
            f"""v{i} AS MATERIALIZED (
  SELECT DISTINCT f.root, e.dst AS node, {i} AS dist
  FROM v{i - 1} f JOIN e ON e.src = f.node
  WHERE NOT EXISTS (SELECT 1 FROM ({prev}) p
                    WHERE p.root = f.root AND p.node = e.dst))"""
        )
    allv = " UNION ALL ".join(
        f"SELECT root, node, dist FROM v{i}" for i in range(max_hops + 1)
    )
    return f"""WITH {",".join(parts)},
av AS ({allv}),
agg AS (
  SELECT root,
         COUNT(*) FILTER (WHERE dist > 0) AS n_reached,
         COALESCE(SUM({lcm} // dist) FILTER (WHERE dist > 0), 0)
           AS harmonic_fp
  FROM av GROUP BY root)
SELECT root, CAST(n_reached AS BIGINT) AS n_reached,
       CAST(harmonic_fp AS BIGINT) AS harmonic_fp,
       CAST(harmonic_fp AS DOUBLE) / CAST({lcm} AS DOUBLE) AS harmonic
FROM agg"""


def jaccard_link_prediction(
    edges: DataFrame,
    min_common: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node_a, node_b, n_common, jaccard) — link prediction by
    neighbor-set Jaccard over the undirected simple graph: for every
    non-adjacent pair sharing >= min_common neighbors,
    jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|.  All counting is integer;
    the score is ONE int/int IEEE division — bit-identical cross-engine.

    Plan: wedge enumeration (neighbor self-join on the shared endpoint,
    b1 < b2 kills the duplicate orientation), count per pair, anti join
    the existing edges, broadcast-join degrees.  Hub caveat: a degree-d
    node fans out d(d-1)/2 wedges — the same quadratic blowup the
    triangle census dodges with degree orientation, which similarity
    CANNOT use (it needs every common neighbor).  The 10^12-edge scale
    path is therefore NOT this exact form but the AllPairs prefix
    filter over neighbor sets (operators/dedup.py setsim_prefix_pairs —
    neighbor ids ARE token sets), plus stop-node removal for
    super-hubs; this operator is the exact small/medium-graph form and
    the correctness oracle for both."""
    ed = (
        edges.select(
            F.col(src_col).alias("_a"), F.col(dst_col).alias("_b")
        )
        .filter(F.col("_a") != F.col("_b"))
    )
    sym = (
        ed.unionByName(
            ed.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
        )
        .distinct()
        .persist()
    )
    deg = sym.groupBy("_a").agg(F.count(F.lit(1)).alias("_d"))
    s1 = sym.select(F.col("_a").alias("_n"), F.col("_b").alias("_x"))
    s2 = sym.select(F.col("_a").alias("_n"), F.col("_b").alias("_y"))
    common = (
        s1.join(s2, "_n")
        .filter(F.col("_x") < F.col("_y"))
        .groupBy("_x", "_y")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    # candidate pairs only — the anti join removes already-linked pairs
    cand = common.join(
        sym.select(F.col("_a").alias("_x"), F.col("_b").alias("_y")),
        ["_x", "_y"],
        "anti",
    )
    out = (
        cand.join(deg.withColumnsRenamed({"_a": "_x", "_d": "_dx"}), "_x")
        .join(deg.withColumnsRenamed({"_a": "_y", "_d": "_dy"}), "_y")
        .select(
            F.col("_x").alias("node_a"),
            F.col("_y").alias("node_b"),
            "n_common",
            (
                F.col("n_common").cast("double")
                / (
                    F.col("_dx") + F.col("_dy") - F.col("n_common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    from .lsh import _CacheHandle

    out.linkpred_cache = _CacheHandle(sym)
    return out


def jaccard_link_sql(edges_rel: str, min_common: int = 2) -> str:
    """DuckDB twin of jaccard_link_prediction."""
    return f"""
WITH ed AS (SELECT src AS a, dst AS b FROM {edges_rel} WHERE src <> dst),
sym AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
deg AS (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),
common AS (
  SELECT s1.b AS x, s2.b AS y, COUNT(*) AS n_common
  FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_common}),
cand AS (
  SELECT x, y, n_common FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM sym WHERE sym.a = c.x AND sym.b = c.y))
SELECT cand.x AS node_a, cand.y AS node_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) /
         CAST(dx.d + dy.d - n_common AS DOUBLE) AS jaccard
FROM cand
JOIN deg dx ON dx.a = cand.x
JOIN deg dy ON dy.a = cand.y
"""


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: str = "auto",
) -> DataFrame:
    """(node, betweenness) — source-sampled betweenness centrality
    (Brandes 2001 dependency accumulation; Bader et al. 2007 sampling):
    exact Brandes restricted to the given source set, i.e. the sum over
    sources s of the dependency delta_s(v), the standard estimator at
    graphs where all-sources Brandes (O(V*E)) is unpayable.

    Forward phase = multi-source BFS carrying (root, node, sigma) with
    INTEGER shortest-path counts (sigma sums are exact longs — no float
    order sensitivity); per level one frontier⋈edges shuffle + one anti
    join + one partial-agg sigma sum, the khop/closeness discipline.
    Backward phase walks levels deepest-first: delta(v) = sum over
    successors w of (sigma_v/sigma_w)*(1+delta_w).  Those ARE floats,
    so every accumulation (successor sum, per-node source sum) is a
    SORTED-ARRAY FOLD (array_sort + aggregate HOF), making the result
    a deterministic function of the graph — reproducible across
    partitionings and bit-comparable to a replication that adds in the
    same order (tests do exactly that).  Levels are persisted during
    the forward pass and unpersisted as the backward pass consumes
    them; lineage cut per level.

    ``sources``: one column named ``node``.  Output contains EVERY
    node reached at level >= 1 from any source (nodes on no shortest
    path appear with 0.0 — including the deepest level, whose delta is
    identically 0); betweenness is the RAW sampled dependency sum —
    callers normalize by |sources| or scale to |V| as their estimator
    needs.  ``betweenness_sql`` is the engine-portable twin: DuckDB's
    list_reduce over lists ordered by the same keys replays the exact
    fold orders, so the doubles hash-match."""
    from .ccomp import _checkpointer
    from .lsh import _CacheHandle

    e = edges.select(
        F.col(src_col).alias("_es"), F.col(dst_col).alias("_ed")
    ).filter(F.col("_es") != F.col("_ed")).persist()
    frontier = (
        sources.select("node")
        .distinct()
        .select(
            F.col("node").alias("root"),
            "node",
            F.lit(1).cast("long").alias("sigma"),
        )
        .persist()
    )
    visited = frontier.select("root", "node").persist()
    levels = [frontier]
    for _depth in range(1, max_hops + 1):
        prev = levels[-1]
        nxt = (
            prev.join(e, prev["node"] == e["_es"])
            .select("root", F.col("_ed").alias("node"), "sigma")
            .join(visited, ["root", "node"], "anti")
            .groupBy("root", "node")
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = _checkpointer(nxt, checkpoint).persist()
        if nxt.isEmpty():
            nxt.unpersist()
            break
        old = visited
        visited = old.unionByName(nxt.select("root", "node")).persist()
        visited.count()
        old.unpersist()
        levels.append(nxt)
    # backward: delta at the deepest level is 0; fold upward
    sorted_sum = (
        "aggregate(array_sort(collect_list(struct({key}, _term))), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x._term)"
    )
    delta_next = None  # (root, node, delta) at level d+1
    delta_frames = []
    for d in range(len(levels) - 2, 0, -1):
        cur, nxt_lvl = levels[d], levels[d + 1]
        succ = nxt_lvl.select(
            "root",
            F.col("node").alias("_w"),
            F.col("sigma").alias("_ws"),
        )
        if delta_next is not None:
            succ = succ.join(
                delta_next.select(
                    "root", F.col("node").alias("_w"),
                    F.col("delta").alias("_wd"),
                ),
                ["root", "_w"],
                "left",
            ).select(
                "root", "_w", "_ws",
                F.coalesce("_wd", F.lit(0.0)).alias("_wd"),
            )
        else:
            succ = succ.select(
                "root", "_w", "_ws", F.lit(0.0).alias("_wd")
            )
        # rename BEFORE joining: cur and succ share lineage (both derive
        # from the BFS frames), so column-object equality on `root`
        # resolves to the same attribute id and Spark folds it to a
        # trivially-true predicate — i.e. a cross join across roots
        succ_r = succ.select(
            F.col("root").alias("_sroot"), "_w", "_ws", "_wd"
        )
        contrib = (
            cur.select(
                F.col("root").alias("_croot"),
                F.col("node").alias("_cnode"),
                F.col("sigma").alias("_csigma"),
            )
            .join(e, F.col("_cnode") == e["_es"])
            .join(
                succ_r,
                (F.col("_croot") == F.col("_sroot"))
                & (F.col("_ed") == F.col("_w")),
            )
            .select(
                F.col("_croot").alias("root"),
                F.col("_cnode").alias("node"),
                F.col("_w").alias("_k"),
                (
                    (F.col("_csigma").cast("double")
                     / F.col("_ws").cast("double"))
                    * (F.lit(1.0) + F.col("_wd"))
                ).alias("_term"),
            )
        )
        folded = contrib.groupBy("root", "node").agg(
            F.expr(sorted_sum.format(key="_k")).alias("delta")
        )
        # nodes at this level with no successors keep delta 0
        delta_cur = (
            cur.select("root", "node")
            .join(folded, ["root", "node"], "left")
            .select(
                "root", "node",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
        )
        delta_cur = _checkpointer(delta_cur, checkpoint).persist()
        delta_cur.count()
        if delta_next is not None:
            delta_frames.append(delta_next)
        delta_next = delta_cur
        if d + 1 < len(levels) - 1:
            # the deepest level stays persisted: its (root, node) rows
            # are re-read for the explicit delta-0 frame below; the
            # returned cache handle unpersists it with the rest
            nxt_lvl.unpersist()
    if delta_next is not None:
        delta_frames.append(delta_next)
    if len(levels) > 1:
        # the deepest reached level has no successors: its delta is
        # identically 0, but the rows belong in the output (and in the
        # SQL twin, which cannot know the deepest level statically)
        delta_frames.append(
            levels[-1].select("root", "node", F.lit(0.0).alias("delta"))
        )
    if not delta_frames:
        # node type follows the input graph (string KG ids, long bench
        # ids, ...) — a hardcoded string schema would mistype the
        # degenerate no-level-1 result for integer-keyed graphs
        from pyspark.sql.types import DoubleType, StructField, StructType

        out = frontier.sparkSession.createDataFrame(
            [],
            StructType([
                StructField("node", frontier.schema["node"].dataType, True),
                StructField("betweenness", DoubleType(), True),
            ]),
        )
        out.betweenness_cache = _CacheHandle(e, visited, *levels)
        return out
    all_delta = delta_frames[0]
    for f in delta_frames[1:]:
        all_delta = all_delta.unionByName(f)
    bc = all_delta.select(
        F.col("root").alias("_k"), "node", F.col("delta").alias("_term")
    ).groupBy("node").agg(
        F.expr(sorted_sum.format(key="_k")).alias("betweenness")
    )
    out = bc
    out.betweenness_cache = _CacheHandle(
        e, visited, *levels, *delta_frames
    )
    return out


def betweenness_sql(edges_rel: str, seeds_sql: str, max_hops: int = 8) -> str:
    """DuckDB twin of betweenness_sampled: the sigma-carrying BFS as
    per-level CTEs (closeness_sql's NOT EXISTS discipline plus an
    integer SUM(sigma) per level), then the Brandes backward pass
    unrolled deepest-first — every float accumulation replayed as
    list_reduce over a list ordered by the SAME key the Spark fold
    sorts on (successor node for the per-level delta, root for the
    final sum), so the IEEE doubles come out bit-identical (DuckDB's
    first-element fold seed equals Spark's 0.0+x for positive terms).
    Levels the BFS never reaches produce empty CTEs that contribute
    nothing — the unrolled depth is ``max_hops`` regardless.

    Every per-level CTE is ``AS MATERIALIZED``: DuckDB inlines plain
    CTEs at each reference, and v{i}/d{i}/s{i} are each referenced by
    several later levels — inlining makes the unrolled plan
    exponential in depth (measured: 13 min vs seconds at sf0.01,
    h=6).  Materialization computes each level once; results are
    byte-identical."""
    h = max_hops
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst FROM {edges_rel}"
        " WHERE src <> dst)",
        "v0 AS MATERIALIZED (SELECT DISTINCT node AS root, node, "
        f"CAST(1 AS BIGINT) AS sigma FROM ({seeds_sql}))",
    ]
    for i in range(1, h + 1):
        prev = " UNION ALL ".join(
            f"SELECT root, node FROM v{j}" for j in range(i)
        )
        parts.append(
            f"""v{i} AS MATERIALIZED (
  SELECT f.root, e.dst AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
  FROM v{i - 1} f JOIN e ON e.src = f.node
  WHERE NOT EXISTS (SELECT 1 FROM ({prev}) p
                    WHERE p.root = f.root AND p.node = e.dst)
  GROUP BY f.root, e.dst)"""
        )
    # backward pass: d{h} = deepest unrolled level at delta 0; then
    # d{i} folds successor terms from (v{i+1} ⋈ d{i+1})
    parts.append(
        f"d{h} AS MATERIALIZED (SELECT root, node,"
        f" CAST(0.0 AS DOUBLE) AS delta FROM v{h})"
    )
    for i in range(h - 1, 0, -1):
        parts.append(f"""s{i + 1} AS MATERIALIZED (
  SELECT v.root, v.node, v.sigma, d.delta
  FROM v{i + 1} v JOIN d{i + 1} d ON d.root = v.root AND d.node = v.node)""")
        parts.append(f"""d{i} AS MATERIALIZED (
  SELECT v.root, v.node, COALESCE(f.delta, CAST(0.0 AS DOUBLE)) AS delta
  FROM v{i} v LEFT JOIN (
    SELECT t.root, t.node,
           list_reduce(list(t.term ORDER BY t.w), (a, b) -> a + b) AS delta
    FROM (
      SELECT c.root AS root, c.node AS node, s.node AS w,
             CAST(c.sigma AS DOUBLE) / CAST(s.sigma AS DOUBLE)
               * (CAST(1.0 AS DOUBLE) + s.delta) AS term
      FROM v{i} c
      JOIN e ON e.src = c.node
      JOIN s{i + 1} s ON s.root = c.root AND s.node = e.dst
    ) t GROUP BY t.root, t.node
  ) f ON f.root = v.root AND f.node = v.node)""")
    alld = " UNION ALL ".join(
        f"SELECT root, node, delta FROM d{i}" for i in range(1, h + 1)
    )
    return f"""WITH {",".join(parts)},
alld AS ({alld})
SELECT node,
       list_reduce(list(delta ORDER BY root), (a, b) -> a + b)
         AS betweenness
FROM alld GROUP BY node"""


def scc_labels(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 40,
    checkpoint: str = "auto",
) -> DataFrame:
    """(node, scc) — strongly connected components of the DIRECTED
    graph, scc = minimum member id of each component: the cycle
    structure of the entity graph (weak components — kg_components —
    say "one blob"; SCCs say which parts of that blob are mutually
    reachable, i.e. where directed KG traversal can loop).

    Algorithm: trim + forward-min-label coloring (Orzan 2004; the
    FW-BW-Trim family of Slota et al.), fully deterministic:

      per round:
      1. TRIM to fixpoint — nodes missing an in- or out-edge in the
         remaining subgraph are singleton SCCs (scc = node).  A
         DAG-like graph (a KG mostly is one) dissolves here in
         O(longest path) cheap passes.
      2. COLOR — forward min-label propagation to fixpoint:
         color(v) = min(v, min over in-neighbors u of color(u)).
         A color root (color(v) == v) is the minimum node that reaches
         its whole color class.
      3. BACKWARD — BFS along reversed edges from each root, restricted
         to the root's color class: exactly SCC(root) (every node of
         SCC(root) has the root's color, and every color-class node
         that reaches the root is mutually reachable with it; the
         restriction is closed — intermediates on a v->root path share
         the color).  Members get scc = root; remove them and repeat.

    All comparisons are integer/string min/equality — no floats — so
    the labeling is bit-exact on any engine; ``scc_sql`` replays it as
    a transitive-closure twin.  Scale shape: every step is a
    frontier-sized join (the khop discipline), state is one row per
    live node, lineage cut per step; rounds needed = O(#color rounds),
    small for real KG topologies once trim has eaten the DAG part.
    Raises after ``max_rounds`` rather than returning a partial answer.
    """
    from .ccomp import _checkpointer
    from .lsh import _CacheHandle

    all_nodes = graph_nodes(edges, src_col, dst_col)
    cur_edges = (
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
        .persist()
    )
    cur_nodes = all_nodes.persist()
    done: list[DataFrame] = []
    caches: list[DataFrame] = [cur_edges, cur_nodes]

    def _shrink(nodes, edges_, removed):
        """anti-join `removed` out of the live node/edge frames."""
        n2 = _checkpointer(
            nodes.join(removed.select("node"), "node", "anti"), checkpoint
        ).persist()
        n2.count()
        e2 = _checkpointer(
            edges_.join(
                n2.select(F.col("node").alias("_s")), "_s", "semi"
            ).join(n2.select(F.col("node").alias("_d")), "_d", "semi"),
            checkpoint,
        ).persist()
        e2.count()
        nodes.unpersist()
        edges_.unpersist()
        return n2, e2

    for _round in range(max_rounds):
        # 1. trim to fixpoint
        while True:
            srcs = cur_edges.select(F.col("_s").alias("node")).distinct()
            dsts = cur_edges.select(F.col("_d").alias("node")).distinct()
            both = srcs.join(dsts, "node", "semi")
            trimmed = _checkpointer(
                cur_nodes.join(both, "node", "anti"), checkpoint
            ).persist()
            if trimmed.isEmpty():
                trimmed.unpersist()
                break
            done.append(trimmed.select("node", F.col("node").alias("scc")))
            caches.append(trimmed)
            cur_nodes, cur_edges = _shrink(cur_nodes, cur_edges, trimmed)
            caches[0:2] = [cur_edges, cur_nodes]
        if cur_nodes.isEmpty():
            break
        # 2. forward min-label coloring to fixpoint
        color = cur_nodes.select(
            "node", F.col("node").alias("color")
        ).persist()
        while True:
            incoming = (
                cur_edges.join(color, cur_edges["_s"] == color["node"])
                .groupBy(F.col("_d").alias("node"))
                .agg(F.min("color").alias("_inc"))
            )
            new_color = _checkpointer(
                color.join(incoming, "node", "left").select(
                    "node",
                    F.least(
                        "color", F.coalesce("_inc", "color")
                    ).alias("color"),
                ),
                checkpoint,
            ).persist()
            changed = (
                new_color.join(
                    color.select(
                        "node", F.col("color").alias("_old")
                    ),
                    "node",
                )
                .filter(F.col("color") != F.col("_old"))
                .count()
            )
            color.unpersist()
            color = new_color
            if changed == 0:
                break
        # 3. backward reach from the color roots within each color class
        roots = color.filter(F.col("node") == F.col("color")).select(
            F.col("node").alias("scc"), "node"
        )
        members = _checkpointer(roots, checkpoint).persist()
        frontier = members
        while True:
            preds = (
                frontier.join(
                    cur_edges, frontier["node"] == cur_edges["_d"]
                )
                .select("scc", F.col("_s").alias("node"))
                .distinct()
                .join(color, "node")
                .filter(F.col("color") == F.col("scc"))
                .select("scc", "node")
                .join(members, ["scc", "node"], "anti")
            )
            preds = _checkpointer(preds, checkpoint).persist()
            if preds.isEmpty():
                preds.unpersist()
                break
            old = members
            members = old.unionByName(preds).persist()
            members.count()
            old.unpersist()
            frontier = preds
        found = _checkpointer(
            members.select("node", "scc"), checkpoint
        ).persist()
        found.count()
        done.append(found)
        caches.append(found)
        members.unpersist()
        color.unpersist()
        cur_nodes, cur_edges = _shrink(cur_nodes, cur_edges, found)
        caches[0:2] = [cur_edges, cur_nodes]
        if cur_nodes.isEmpty():
            break
    else:
        raise RuntimeError(
            f"scc_labels: {cur_nodes.count()} nodes unresolved after "
            f"{max_rounds} rounds"
        )
    out = done[0]
    for f in done[1:]:
        out = out.unionByName(f)
    out.scc_cache = _CacheHandle(cur_edges, cur_nodes, *caches)
    return out


def scc_sql(edges_rel: str) -> str:
    """DuckDB twin of scc_labels: mutual reachability via a recursive
    transitive closure — scc(v) = min over {v} ∪ {u : v⇄u}.  Closure
    cost is fine at oracle scale; the Spark operator is the
    coloring-based scale form."""
    return f"""
WITH RECURSIVE
raw AS (SELECT src, dst FROM {edges_rel}),
nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
e AS (SELECT src, dst FROM raw WHERE src <> dst),
reach(a, b) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
mutual AS (
  SELECT r1.a AS v, r1.b AS u
  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
lab AS (
  SELECT n.node, LEAST(n.node, COALESCE(MIN(m.u), n.node)) AS scc
  FROM nodes n LEFT JOIN mutual m ON m.v = n.node
  GROUP BY n.node)
SELECT node, scc FROM lab
"""


def condensation_layers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 64,
    checkpoint: str = "auto",
) -> DataFrame:
    """(scc, layer, n_members) — the condensation DAG of the directed
    graph (one vertex per SCC, distinct inter-SCC edges) topologically
    layered by LONGEST path from a source: layer(c) = 0 for SCCs with
    no incoming condensation edge, else 1 + max(layer of predecessors).
    This is the evaluation-order view of the entity graph: everything
    in layer k can be processed after layers < k — the scheduling
    companion to ``scc_labels`` (which only names the cycles).

    Computed as integer fixed-point relaxation over the condensation
    edges (layer := greatest(layer, max_pred + 1) until no change) —
    converges in DAG-depth rounds, each round one |cedges ⋈ layers|
    join (frontier-sized, the khop discipline), lineage cut per round.
    Integer/string ops only — bit-exact cross-engine; the DuckDB twin
    replays it as a recursive longest-chain closure over the same
    condensation.  Raises after ``max_depth`` rounds (a true DAG always
    converges; the guard catches a broken SCC labeling upstream)."""
    from .ccomp import _checkpointer
    from .lsh import _CacheHandle

    labels = scc_labels(edges, src_col, dst_col, checkpoint=checkpoint)
    lab = labels.select("node", "scc").persist()
    lab.count()
    labels.scc_cache.unpersist()

    ls = lab.select(F.col("node").alias("_s"), F.col("scc").alias("cfrom"))
    ld = lab.select(F.col("node").alias("_d"), F.col("scc").alias("cto"))
    ce = (
        edges.select(
            F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
        )
        .join(ls, "_s")
        .join(ld, "_d")
        .filter(F.col("cfrom") != F.col("cto"))
        .select("cfrom", "cto")
        .distinct()
        .persist()
    )
    ce.count()

    layer = lab.select("scc").distinct().withColumn(
        "layer", F.lit(0)
    ).persist()
    layer.count()
    caches = [lab, ce]
    for _round in range(max_depth):
        upd = (
            ce.join(
                layer.select(
                    F.col("scc").alias("_c"), F.col("layer").alias("_pl")
                ),
                ce["cfrom"] == F.col("_c"),
            )
            .groupBy(F.col("cto").alias("scc"))
            .agg((F.max("_pl") + F.lit(1)).alias("_cand"))
        )
        new = _checkpointer(
            layer.join(upd, "scc", "left").select(
                "scc",
                F.greatest(
                    "layer", F.coalesce("_cand", F.lit(0))
                ).alias("layer"),
            ),
            checkpoint,
        ).persist()
        changed = (
            new.join(
                layer.select("scc", F.col("layer").alias("_old")), "scc"
            )
            .filter(F.col("layer") != F.col("_old"))
            .count()
        )
        layer.unpersist()
        layer = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"condensation_layers: no fixed point in {max_depth} rounds "
            "(is the SCC labeling sound?)"
        )
    out = layer.join(
        lab.groupBy("scc").agg(F.count(F.lit(1)).alias("n_members")),
        "scc",
    ).select(
        "scc",
        F.col("layer").cast("int").alias("layer"),
        F.col("n_members").cast("long").alias("n_members"),
    )
    out.condensation_cache = _CacheHandle(*caches, layer)
    return out


def condensation_sql(edges_rel: str) -> str:
    """DuckDB twin of condensation_layers: ``scc_sql``'s mutual-reach
    labeling as a materialized CTE, condensation edges by double join,
    then layer = longest chain ending at each SCC via a recursive
    (c, depth) closure — finite because the condensation is acyclic."""
    return f"""
WITH RECURSIVE
scc_map AS MATERIALIZED ({scc_sql(edges_rel)}),
ce AS MATERIALIZED (
  SELECT DISTINCT ls.scc AS cfrom, ld.scc AS cto
  FROM (SELECT src, dst FROM {edges_rel} WHERE src <> dst) e
  JOIN scc_map ls ON ls.node = e.src
  JOIN scc_map ld ON ld.node = e.dst
  WHERE ls.scc <> ld.scc),
chain(c, d) AS (
  SELECT cto, 1 FROM ce
  UNION
  SELECT ce.cto, p.d + 1 FROM chain p JOIN ce ON ce.cfrom = p.c),
members AS (SELECT scc, COUNT(*) AS n_members FROM scc_map GROUP BY scc)
SELECT m.scc,
       CAST(COALESCE(MAX(p.d), 0) AS INTEGER) AS layer,
       CAST(m.n_members AS BIGINT) AS n_members
FROM members m LEFT JOIN chain p ON p.c = m.scc
GROUP BY m.scc, m.n_members
"""


def bounded_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight: "Column | str",
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: str = "auto",
) -> DataFrame:
    """(root, node, dist) — hop-bounded weighted shortest paths:
    dist = minimum total edge weight over directed paths of at most
    ``max_hops`` edges from each source (the root itself at 0).  The
    hop bound makes the semantics exact and engine-portable (full
    Bellman-Ford's round count is data-dependent); with max_hops >=
    graph diameter it IS the shortest path.

    Weights must be non-negative INTEGERS (column name or Column
    expression) — integer min/plus only, so results are bit-exact
    cross-engine; ``bounded_sp_sql`` unrolls the identical relaxation.
    Scale shape: per round one |dist ⋈ edges| shuffle + one (root,
    node) min-aggregation — work tracks the reached set, not
    |V|·|sources|; state checkpointed per round (khop discipline).
    Early exit when a round improves nothing (identical output to
    running all rounds).

    ``sources``: one column named ``node``."""
    from .ccomp import _checkpointer
    from .lsh import _CacheHandle

    w = F.col(weight) if isinstance(weight, str) else weight
    # round-7: relaxation joins this static frame every round — persist
    # it pre-hashed by the join key so only the dist frame exchanges
    e = (
        edges.select(
            F.col(src_col).alias("_s"),
            F.col(dst_col).alias("_d"),
            w.cast("long").alias("_w"),
        )
        .filter(F.col("_s") != F.col("_d"))
        .groupBy("_s", "_d")
        .agg(F.min("_w").alias("_w"))
        .repartition(
            edges.sparkSession.sparkContext.defaultParallelism,
            F.col("_s"),
        )
        .persist()
    )
    dist = (
        sources.select(F.col("node").alias("root"))
        .distinct()
        .select("root", F.col("root").alias("node"), F.lit(0).cast("long").alias("dist"))
        .persist()
    )
    dist.count()
    for _round in range(max_hops):
        ext = (
            dist.join(e, dist["node"] == e["_s"])
            .select("root", F.col("_d").alias("node"),
                    (F.col("dist") + F.col("_w")).alias("dist"))
        )
        new = _checkpointer(
            dist.unionByName(ext)
            .groupBy("root", "node")
            .agg(F.min("dist").alias("dist")),
            checkpoint,
        ).persist()
        improved = (
            new.join(
                dist.select(
                    "root", "node", F.col("dist").alias("_old")
                ),
                ["root", "node"],
                "left",
            )
            .filter(
                F.col("_old").isNull() | (F.col("dist") < F.col("_old"))
            )
            .count()
        )
        dist.unpersist()
        dist = new
        if improved == 0:
            break
    out = dist.select("root", "node", "dist")
    out.sp_cache = _CacheHandle(e, dist)
    return out


def bounded_sp_sql(
    edges_rel: str, seeds_sql: str, weight_sql: str, max_hops: int = 6
) -> str:
    """DuckDB twin of bounded_shortest_paths: the Bellman-Ford rounds
    unrolled as ``AS MATERIALIZED`` CTEs (khop_sql's inlining
    rationale), ``weight_sql`` an integer expression over (src, dst)."""
    parts = [
        f"""e AS MATERIALIZED (
  SELECT src, dst, MIN(w) AS w FROM (
    SELECT src, dst, CAST({weight_sql} AS BIGINT) AS w
    FROM {edges_rel} WHERE src <> dst)
  GROUP BY src, dst)""",
        "d0 AS MATERIALIZED (SELECT DISTINCT node AS root, node, "
        f"CAST(0 AS BIGINT) AS dist FROM ({seeds_sql}))",
    ]
    for i in range(1, max_hops + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT root, node, MIN(dist) AS dist FROM (
    SELECT root, node, dist FROM d{i - 1}
    UNION ALL
    SELECT p.root, e.dst AS node, p.dist + e.w AS dist
    FROM d{i - 1} p JOIN e ON e.src = p.node)
  GROUP BY root, node)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT root, node, dist FROM d{max_hops}"
    )


def hyperball_from_hashes(
    edges: DataFrame,
    node_hashes: DataFrame,
    t_max: int = 4,
    log2m: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: str = "auto",
) -> DataFrame:
    """(node, t, reg_sum, n_ball_est) — HyperBall (Boldi-Vigna 2013):
    per-node HLL sketches of the OUT-ball B(v, t) = nodes reachable from
    v in <= t hops, for every t in 0..t_max.  n_ball_est is the HLL
    cardinality estimate of |B(v, t)| — the per-node neighborhood
    function, whose per-t ratios give degrees-of-separation / effective-
    diameter curves without materializing any reachable set.

    Sketch state is SPARSE integer rows (node, register, max_rank) —
    only registers actually observed carry a row; the unseen-register
    term is added at estimate time exactly as sketch.hll_from_hashes
    does.  One HyperBall round is ball(v,t) = ball(v,t-1) ∪
    ⋃_{(v,w)∈E} ball(w,t-1), which on registers is a max-merge:
    |edges ⋈ regs| join + groupBy(node, register) MAX — map-side
    partial-aggregated, shuffle rows <= |E| * registers-per-ball, state
    <= |V| * m rows of three integers at ANY graph size.  Register
    ranks only grow and rows are only added, so (row_count, sum(rank))
    equality between rounds detects the fixed point exactly; remaining
    t rows are emitted from the converged state (identical output to
    running all t_max rounds).  Integer max/sum plus ONE final division
    by an injected repr(f64) constant — bit-exact cross-engine;
    ``hyperball_sql`` unrolls the identical rounds.

    ``node_hashes``: (node, h) with h a 64-bit hash of the node id
    (xxhash64) — split out so a staged-parquet oracle replays the exact
    hash bytes (DuckDB has no xxhash64).  Every graph node must appear.
    """
    from .ccomp import _checkpointer
    from .lsh import _CacheHandle
    from .sketch import RANK_CAP, _alpha

    m = 1 << log2m
    est_num = repr(_alpha(m) * m * m * float(1 << RANK_CAP))

    h = F.col("h")
    bucket = F.pmod(h, F.lit(m))
    rest = F.shiftrightunsigned(h, log2m)
    lowest = rest.bitwiseAND(-rest)
    rank = F.when(rest == 0, F.lit(RANK_CAP)).otherwise(
        F.least(F.bit_count(lowest - 1) + 1, F.lit(RANK_CAP))
    )

    # round-7: the register propagation joins this static frame every
    # round on _d — persist it pre-hashed by that key
    e = (
        edges.select(
            F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
        )
        .distinct()
        .repartition(
            edges.sparkSession.sparkContext.defaultParallelism,
            F.col("_d"),
        )
        .persist()
    )
    regs = (
        node_hashes.select("node", bucket.alias("b"), rank.alias("r"))
        .groupBy("node", "b")
        .agg(F.max("r").alias("r"))
        .persist()
    )

    def _estimates(frame, t):
        seen = frame.groupBy("node").agg(
            F.sum(F.expr(f"shiftleft(1L, {RANK_CAP} - r)")).alias("_s"),
            F.count(F.lit(1)).alias("_nb"),
        )
        total = (
            F.col("_s")
            + (F.lit(m) - F.col("_nb")) * F.lit(1 << RANK_CAP)
        )
        return seen.select(
            "node",
            F.lit(t).cast("int").alias("t"),
            total.cast("long").alias("reg_sum"),
            (F.lit(float(est_num)) / total.cast("double")).alias(
                "n_ball_est"
            ),
        )

    caches = [e, regs]
    outs = [_estimates(regs, 0)]
    sig = tuple(regs.agg(F.count(F.lit(1)), F.sum("r")).first())
    t_done = t_max
    for t in range(1, t_max + 1):
        prop = e.join(
            regs.withColumnRenamed("node", "_d"), "_d"
        ).select(F.col("_s").alias("node"), "b", "r")
        new = _checkpointer(
            regs.unionByName(prop)
            .groupBy("node", "b")
            .agg(F.max("r").alias("r")),
            checkpoint,
        ).persist()
        caches.append(new)
        nsig = tuple(new.agg(F.count(F.lit(1)), F.sum("r")).first())
        regs = new
        outs.append(_estimates(regs, t))
        if nsig == sig:
            t_done = t
            break
        sig = nsig
    for t in range(t_done + 1, t_max + 1):
        outs.append(_estimates(regs, t))

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    out.hyperball_cache = _CacheHandle(*caches)
    return out


def hyperball_sql(
    edges_rel: str, hashes_rel: str, t_max: int = 4, log2m: int = 6
) -> str:
    """DuckDB twin of hyperball_from_hashes: the max-merge rounds
    unrolled as AS MATERIALIZED CTEs over exploded (node, b, r) register
    rows, same bucket/rank bit tricks as sketch.hll_sql, same integer
    unseen-register term and injected repr(f64) numerator."""
    from .sketch import RANK_CAP, _alpha

    m = 1 << log2m
    est_num = repr(_alpha(m) * m * m * float(1 << RANK_CAP))
    parts = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM {edges_rel})",
        f"""r0 AS MATERIALIZED (
  SELECT node, b, MAX(r) AS r FROM (
    SELECT node,
           h % {m} + CASE WHEN h % {m} < 0 THEN {m} ELSE 0 END AS b,
           CASE WHEN rest = 0 THEN {RANK_CAP}
                ELSE LEAST(bit_count((rest & -rest) - 1) + 1, {RANK_CAP})
           END AS r
    FROM (SELECT node, h,
                 (h >> {log2m}) & {(1 << (64 - log2m)) - 1} AS rest
          FROM {hashes_rel}))
  GROUP BY node, b)""",
    ]
    for t in range(1, t_max + 1):
        parts.append(
            f"""r{t} AS MATERIALIZED (
  SELECT node, b, MAX(r) AS r FROM (
    SELECT node, b, r FROM r{t - 1}
    UNION ALL
    SELECT e.src AS node, p.b, p.r
    FROM r{t - 1} p JOIN e ON e.dst = p.node)
  GROUP BY node, b)""")
    total = f"sm + ({m} - nb) * (1::BIGINT << {RANK_CAP})"
    sels = [
        f"""SELECT node, {t} AS t,
       CAST({total} AS BIGINT) AS reg_sum,
       {est_num} / CAST({total} AS DOUBLE) AS n_ball_est
FROM (SELECT node,
             CAST(SUM(1::BIGINT << ({RANK_CAP} - r)) AS BIGINT) AS sm,
             COUNT(*) AS nb
      FROM r{t} GROUP BY node)"""
        for t in range(t_max + 1)
    ]
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\nUNION ALL\n".join(sels)
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 64,
    checkpoint: str = "auto",
) -> DataFrame:
    """(node, core_degree) — the k-core of the UNDIRECTED graph (edges
    symmetrized, self-loops dropped): the maximal subgraph in which
    every node has degree >= k, found by iterative peeling (drop all
    nodes with degree < k, re-count, repeat to fixpoint).  core_degree
    is the node's degree WITHIN the core.  The k-core is the classic
    'dense kernel' view of the entity graph — hubs survive, tendrils
    peel away — and the peeling order is unique, so the fixpoint is
    deterministic regardless of execution order.

    Integer degree counts and comparisons only — bit-exact
    cross-engine; ``k_core_sql`` unrolls the same peeling rounds
    (extra rounds past the fixpoint are no-ops, so Spark's early exit
    and the SQL's fixed unroll agree).  Scale shape: per round one
    degree groupBy + two semi-join-shaped filters on the shrinking
    edge set — work tracks the surviving subgraph, lineage cut per
    round (khop discipline).  Raises after ``max_rounds`` rounds
    without convergence (each round strictly shrinks the edge set, so
    rounds <= peeling depth <= |V|; 64 covers any non-adversarial
    graph — raise it for deep tendril chains)."""
    from .ccomp import _checkpointer
    from .lsh import _CacheHandle

    asym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    cur = (
        asym.unionByName(
            asym.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    caches = [cur]
    n_edges = cur.count()
    for _round in range(max_rounds):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
        keep = deg.filter(F.col("_deg") >= k).select(
            F.col("src").alias("_keep")
        )
        nxt = _checkpointer(
            cur.join(keep, cur["src"] == F.col("_keep"))
            .drop("_keep")
            .join(
                keep.withColumnRenamed("_keep", "_keep2"),
                F.col("dst") == F.col("_keep2"),
            )
            .drop("_keep2"),
            checkpoint,
        ).persist()
        caches.append(nxt)
        n_next = nxt.count()
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    else:
        raise RuntimeError(
            f"k_core: no fixpoint in {max_rounds} rounds "
            "(raise max_rounds)"
        )
    out = cur.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )
    out.kcore_cache = _CacheHandle(*caches)
    return out


def k_core_sql(edges_rel: str, k: int = 2, rounds: int = 16) -> str:
    """DuckDB twin of k_core: ``rounds`` peeling rounds unrolled as
    AS MATERIALIZED CTEs (rounds past the fixpoint are no-ops; pick
    rounds >= the graph's peeling depth — k_core raises if Spark needs
    more, so a mismatch fails loudly, not silently)."""
    parts = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM {edges_rel} WHERE src <> dst
    UNION ALL
    SELECT dst AS src, src AS dst FROM {edges_rel} WHERE src <> dst))"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""k{i} AS MATERIALIZED (
  SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i - 1} e
  JOIN k{i} a ON a.src = e.src
  JOIN k{i} b ON b.src = e.dst)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e{rounds} GROUP BY src"""
    )


def comention_edges(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_fanout: int = 10_000,
) -> DataFrame:
    """(e1, e2, n_docs) — the co-mention projection of the bipartite
    (document -> entity) link relation: entity pairs that share at
    least one supporting document, e1 < e2 canonical, weighted by the
    number of distinct shared documents.  This is the relation-candidate
    graph of KG construction — co-mentioned entity pairs are the
    candidate set relation extraction scores.

    Scale shape: a self equi-join on the document key — output per doc
    is C(m, 2) for m linked entities, so documents above ``max_fanout``
    linked entities (boilerplate/hub pages) are DROPPED before pairing
    (the standard projection cap; they carry no relational signal and
    would quadratically dominate).  The join shuffles on doc; hub docs
    below the cap are AQE-splittable skew.  Integer counts only."""
    e = edges.select(
        F.col(src_col).alias("_doc"), F.col(dst_col).alias("_ent")
    ).distinct()
    ok = (
        e.groupBy("_doc")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") <= max_fanout)
        .select("_doc")
    )
    cap = e.join(ok, "_doc")
    a = cap.select("_doc", F.col("_ent").alias("e1"))
    b = cap.select(F.col("_doc").alias("_doc2"), F.col("_ent").alias("e2"))
    return (
        a.join(b, F.col("_doc") == F.col("_doc2"))
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def comention_sql(edges_rel: str, max_fanout: int = 10_000) -> str:
    """DuckDB twin of comention_edges."""
    return f"""
WITH e AS (SELECT DISTINCT src AS doc, dst AS ent FROM {edges_rel}),
ok AS (SELECT doc FROM e GROUP BY doc HAVING COUNT(*) <= {max_fanout}),
cap AS (SELECT e.doc, e.ent FROM e JOIN ok USING (doc))
SELECT a.ent AS e1, b.ent AS e2, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM cap a JOIN cap b ON a.doc = b.doc AND a.ent < b.ent
GROUP BY a.ent, b.ent
"""


def negative_tails_from_hashes(
    hashed: DataFrame,
    tails: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(src, dst, i, neg_dst) — deterministic tail-corruption negative
    sampling for KG-embedding training (TransE-family): for each
    positive edge and sample index i, the negative tail is the entity
    at dense position pmod(h, n) in the sorted candidate-tail list,
    bumped ONE position (mod n) when it collides with the true tail —
    so neg_dst != dst always (requires n >= 2).

    ``hashed``: (src, dst, i, h) with h a 64-bit hash of (src, dst, i)
    (xxhash64) — staged so a DuckDB oracle replays the exact hash
    bytes.  ``tails``: one column ``tail``, the distinct candidate
    entities.

    Scale shape: sampling is a pure map over the edge scan plus two
    equi-joins against the dense-id table (dimension-sized — broadcast
    at 10^7 entities); no RNG state, so task retries/speculation and
    partition-granular resume reproduce identical negatives.  The
    dense ids come from ONE window over the entity dimension (not the
    corpus).  The bump policy is (idx+1) mod n in INDEX space —
    h+1 in hash space could overflow int64, which DuckDB rejects."""
    n = tails.count()
    if n < 2:
        raise ValueError("negative sampling needs >= 2 candidate tails")
    w = Window.orderBy("tail")
    idx = tails.select(
        "tail", (F.row_number().over(w) - 1).alias("_idx")
    )
    cand = hashed.withColumn(
        "_i0", F.pmod(F.col("h"), F.lit(n))
    ).withColumn("_i1", F.pmod(F.col("_i0") + 1, F.lit(n)))
    t0 = idx.select(
        F.col("tail").alias("_t0"), F.col("_idx").alias("_i0")
    )
    t1 = idx.select(
        F.col("tail").alias("_t1"), F.col("_idx").alias("_i1")
    )
    return (
        cand.join(t0, "_i0")
        .join(t1, "_i1")
        .select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            "i",
            F.when(F.col("_t0") != F.col(dst_col), F.col("_t0"))
            .otherwise(F.col("_t1"))
            .alias("neg_dst"),
        )
    )


def negative_tails_sql(hashes_rel: str, tails_sql: str) -> str:
    """DuckDB twin of negative_tails_from_hashes; ``tails_sql`` selects
    one column ``tail`` (the candidate set), n is derived in-query."""
    return f"""
WITH idx AS (
  SELECT tail, ROW_NUMBER() OVER (ORDER BY tail) - 1 AS pos
  FROM ({tails_sql})),
n AS (SELECT COUNT(*) AS n FROM idx),
base AS (
  SELECT h.src, h.dst, h.i,
         h.h % n.n + CASE WHEN h.h % n.n < 0 THEN n.n ELSE 0 END AS i0,
         n.n AS n
  FROM {hashes_rel} h CROSS JOIN n)
SELECT b.src, b.dst, b.i,
       CASE WHEN t0.tail <> b.dst THEN t0.tail ELSE t1.tail END AS neg_dst
FROM base b
JOIN idx t0 ON t0.pos = b.i0
JOIN idx t1 ON t1.pos = (b.i0 + 1) % b.n
"""


# --- local clustering coefficients ------------------------------------


def clustering_coefficients(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(node, degree, n_tri, lcc_micro) for every node of the UNDIRECTED
    simple graph underlying the edge list: per-node triangle counts and
    the local clustering coefficient in integer micro-units —
    ``lcc_micro = (2e6 * n_tri) div (degree * (degree - 1))`` (0 when
    degree < 2).  "How clique-like is this entity's neighborhood" is the
    per-node refinement of triangle_count's global census, and the
    standard KG-curation signal for hub-vs-community entities (a low-LCC
    high-degree node is a hub or a disambiguation page; a high-LCC node
    sits inside a dense community).

    Same degree-ordered orientation as triangle_count (Suri &
    Vassilvitskii WWW'11) so per-vertex wedge fan is O(sqrt(m)) even on
    hub graphs; triangles are materialized as (x, p, q) node triples
    (inner join, not semi) and exploded so each triangle credits all
    three corners.  Integer arithmetic only — integer truncating
    division on both engines — so the result is bit-exact and
    hash-checkable cross-engine.  Two shuffle joins + one groupBy;
    reference scope: CLI-P stops at per-query similarity display
    (query-index.py:78-84), graph diagnostics are the KG extension."""
    e, deg, oriented = _degree_oriented(edges, src_col, dst_col)
    a = oriented.select("_x", F.col("_y").alias("_p"),
                        F.col("_dy").alias("_dp"))
    b = oriented.select("_x", F.col("_y").alias("_q"),
                        F.col("_dy").alias("_dq"))
    wedges = a.join(b, "_x").filter(
        F.struct("_dp", "_p") < F.struct("_dq", "_q")
    )
    closing = oriented.select(
        F.col("_x").alias("_p"), F.col("_y").alias("_q")
    )
    tri = wedges.join(closing, ["_p", "_q"])  # rows are (x, p, q) triples
    tri_nodes = (
        tri.select(
            F.explode(F.array("_x", "_p", "_q")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = (
        deg.select(F.col("_n").alias("node"), F.col("_d").alias("degree"))
        .join(tri_nodes, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
        )
        .withColumn(
            "lcc_micro",
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2000000 * n_tri) div (degree * (degree - 1))"
                ),
            ).otherwise(F.lit(0)).cast("long"),
        )
    )
    from .lsh import _CacheHandle

    out.clustering_cache = _CacheHandle(e, oriented)
    return out


def clustering_sql(edges_rel: str) -> str:
    """DuckDB twin of clustering_coefficients over an edge relation
    (src, dst): same canonicalization, same (degree, node) orientation,
    same triangle-triple explode; `//` is DuckDB's truncating integer
    division = Spark's `div` on non-negative operands."""
    return f"""
WITH raw AS (SELECT src, dst FROM {edges_rel}),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst),
deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
oriented AS (
  SELECT CASE WHEN (a.d, e.u) < (b.d, e.v) THEN e.u ELSE e.v END AS x,
         CASE WHEN (a.d, e.u) < (b.d, e.v) THEN e.v ELSE e.u END AS y,
         CASE WHEN (a.d, e.u) < (b.d, e.v) THEN b.d ELSE a.d END AS dy
  FROM e JOIN deg a ON a.n = e.u JOIN deg b ON b.n = e.v),
tri AS (
  SELECT a.x AS x, a.y AS p, b.y AS q
  FROM oriented a JOIN oriented b ON a.x = b.x
  JOIN oriented c ON c.x = a.y AND c.y = b.y
  WHERE (a.dy, a.y) < (b.dy, b.y)),
tri_nodes AS (
  SELECT corner AS node, COUNT(*) AS n_tri
  FROM tri, UNNEST([x, p, q]) AS t(corner)
  GROUP BY corner)
SELECT deg.n AS node, deg.d AS degree,
       COALESCE(tn.n_tri, 0) AS n_tri,
       CASE WHEN deg.d >= 2
            THEN (2000000 * COALESCE(tn.n_tri, 0)) // (deg.d * (deg.d - 1))
            ELSE 0 END AS lcc_micro
FROM deg LEFT JOIN tri_nodes tn ON tn.node = deg.n
"""


# --- bounded transitive closure (semi-naive) --------------------------


def transitive_closure(
    edges: DataFrame,
    max_depth: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: str = "auto",
) -> DataFrame:
    """(src, dst, dist) for every pair reachable in <= ``max_depth``
    directed hops, dist = MINIMUM hop count (a node on a cycle reaches
    ITSELF: (s, s, cycle_len) rows appear for cyclic inputs; a DAG
    yields none) — depth-bounded transitive closure, the Datalog
    ancestor/subsumption query of KG reasoning
    (subClassOf*/partOf* materialization).  The reference has no graph
    layer at all (CLI-P stops at per-query display, query-index.py:78);
    closure is the ontology-reasoning extension of the triple store.

    Semi-naive evaluation: the per-round join runs on the DELTA (facts
    first derived last round) only, never the full closure — round work
    is |delta ⋈ edges|, and a fixpoint before ``max_depth`` exits early.
    New facts are layered in BFS order, so each pair's recorded dist is
    the minimum by construction (first derivation wins; later longer
    derivations are anti-joined away).  Lineage is cut every round with
    ccomp's checkpointer, same plan-depth discipline as khop/pagerank.

    SCALE NOTE: unbounded closure output is O(n^2) on dense reachability
    structures — the depth bound is the production control (bounded
    inference), and on cyclic inputs the bound also guarantees
    termination.  All-integer/string columns: bit-exact cross-engine."""
    from .ccomp import _checkpointer

    # round-7: pre-hash the static edge frame by the per-round join key
    # (delta.dst == e._es) so each semi-naive round exchanges only the
    # delta, never the edges
    e = (
        edges.select(
            F.col(src_col).alias("_es"), F.col(dst_col).alias("_ed")
        )
        .filter(F.col("_es") != F.col("_ed"))
        .distinct()
        .repartition(
            edges.sparkSession.sparkContext.defaultParallelism,
            F.col("_es"),
        )
        .persist()
    )
    known = e.select(
        F.col("_es").alias("src"),
        F.col("_ed").alias("dst"),
        F.lit(1).alias("dist"),
    ).persist()
    delta = known.select("src", "dst")
    for depth in range(2, max_depth + 1):
        nxt = (
            delta.join(e, delta["dst"] == e["_es"])
            .select("src", F.col("_ed").alias("dst"))
            .distinct()
            .join(known.select("src", "dst"), ["src", "dst"], "anti")
        )
        nxt = _checkpointer(nxt, checkpoint)
        if nxt.isEmpty():
            break
        old = known
        known = old.unionByName(
            nxt.select("src", "dst", F.lit(depth).alias("dist"))
        ).persist()
        known.count()  # materialize before dropping the parent cache
        old.unpersist()
        delta = nxt
    from .lsh import _CacheHandle

    known.closure_cache = _CacheHandle(e, known)
    return known


def closure_sql(edges_rel: str, max_depth: int = 8) -> str:
    """DuckDB twin of transitive_closure: depth-carrying recursive CTE
    (UNION dedups per (src, dst, d) so bounded recursion terminates even
    through cycles), MIN(d) per pair = Spark's BFS-layer first-discovery
    dist."""
    return f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM {edges_rel} WHERE src <> dst),
reach(src, dst, d) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT r.src, e.dst, r.d + 1
  FROM reach r JOIN e ON e.src = r.dst
  WHERE r.d < {max_depth})
SELECT src, dst, MIN(d) AS dist FROM reach GROUP BY src, dst
"""


# --- deterministic seeded random walks --------------------------------


def walk_edge_keys(
    edges: DataFrame,
    length: int,
    salt: str = "kgwalk",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(step, src, dst, hkey) for steps 1..``length``: every directed
    edge replicated per step with a seeded xxhash64 draw — the
    pseudo-randomness source for random_walks, computed ENGINE-SIDE
    (xxhash64 is a Spark builtin; no Python in the path) and stageable
    so an oracle can replay the exact same draws.  Python's hash() is
    process-seeded and banned (see NOTES gotchas); xxhash64(salt, step,
    src, dst) is the deterministic family used by every sketch in this
    repo."""
    if int(length) < 1:
        raise ValueError("length must be >= 1 (sequence(1, length) "
                         "counts DOWN for length < 1)")
    return (
        edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn(
            "step",
            F.explode(F.sequence(F.lit(1), F.lit(int(length)))),
        )
        .withColumn(
            "hkey", F.xxhash64(F.lit(salt), F.col("step"),
                               F.col("src"), F.col("dst"))
        )
        .select("step", "src", "dst", "hkey")
    )


def random_walks(
    keyed: DataFrame,
    seeds: DataFrame,
    length: int,
    checkpoint: str = "auto",
) -> DataFrame:
    """(walk_id, step, node): one deterministic walk per seed over the
    per-step hash draws of walk_edge_keys — step t moves from node u to
    the out-neighbor minimizing (hkey, dst) among edges (t, u, *); a
    dead end ends the walk.  Walks are the graph-embedding training-data
    primitive (DeepWalk, Perozzi et al. KDD'14; node2vec) — the corpus a
    100 TB KG feeds to its embedding trainer — made reproducible: the
    draw is a pure function of (salt, step, edge), so any engine
    replaying the same keys emits the SAME walks, and a resumed job
    regenerates identical corpora.

    Plan shape: ONE map-side-combined aggregation precomputes the
    per-(step, src) argmin next-hop table — min(struct(hkey, dst)) is
    the same (hkey, dst)-lexicographic selection the previous
    row_number window made (dst tiebreak keeps hash collisions
    deterministic), without the per-partition SORT of |E|*length rows
    the window paid, and the partial min shrinks the shuffle to one
    row per (step, src) per map partition; the walk loop is
    ``length`` tiny frontier joins against it (frontier size <= n_seeds,
    broadcastable).  Next-hop table size <= |E| * length before the
    argmin, |V| * length after — linear in the graph, never quadratic.
    Each step's frontier is run through ccomp's checkpointer (the
    repo-wide plan-depth discipline): DeepWalk-length walks (40-80
    steps) would otherwise chain an unpersisted join per step — plan
    depth O(length) and O(length^2) recompute across the loop's
    isEmpty/union actions.

    ``seeds``: one column ``node`` (walk_id = the seed node)."""
    from .ccomp import _checkpointer

    nexts = (
        keyed.groupBy("step", "src")
        .agg(F.min(F.struct("hkey", "dst")).alias("_m"))
        .select("step", "src", F.col("_m.dst").alias("dst"))
        .persist()
    )
    state = seeds.select(
        F.col("node").alias("walk_id"),
        F.lit(0).alias("step"),
        F.col("node").alias("node"),
    ).distinct()
    visited = state.persist()
    frontier = state
    for t in range(1, int(length) + 1):
        step_next = nexts.filter(F.col("step") == t).select(
            F.col("src").alias("_ns"), F.col("dst").alias("_nd")
        )
        nxt = step_next.join(
            F.broadcast(frontier), step_next["_ns"] == frontier["node"]
        ).select(
            "walk_id",
            F.lit(t).alias("step"),
            F.col("_nd").alias("node"),
        )
        nxt = _checkpointer(nxt, checkpoint)
        if nxt.isEmpty():
            break
        old = visited
        visited = old.unionByName(nxt).persist()
        visited.count()
        old.unpersist()
        frontier = nxt
    from .lsh import _CacheHandle

    visited.walks_cache = _CacheHandle(nexts, visited)
    return visited


def walks_sql(keys_rel: str, seeds_sql: str, length: int) -> str:
    """DuckDB twin of random_walks over a staged walk_edge_keys relation
    (step, src, dst, hkey); ``seeds_sql`` selects one column ``node``.
    The argmin next-hop table is re-derived from the staged draws with
    DuckDB's own window, then the walk is a plain bounded recursion —
    both engines derive the walks from the SAME staged bytes."""
    return f"""
WITH RECURSIVE nexts AS (
  SELECT step, src, dst FROM (
    SELECT step, src, dst,
           ROW_NUMBER() OVER (PARTITION BY step, src
                              ORDER BY hkey, dst) AS rn
    FROM {keys_rel}) WHERE rn = 1),
walk(walk_id, step, node) AS (
  SELECT node, 0, node FROM (SELECT DISTINCT node FROM ({seeds_sql}))
  UNION ALL
  SELECT w.walk_id, w.step + 1, n.dst
  FROM walk w JOIN nexts n ON n.step = w.step + 1 AND n.src = w.node
  WHERE w.step < {int(length)})
SELECT walk_id, step, node FROM walk
"""


# --- resource-allocation link prediction ------------------------------


def resource_allocation_link_prediction(
    edges: DataFrame,
    min_common: int = 2,
    unit: int = 1_000_000_000,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node_a, node_b, n_common, ra_nano) — link prediction by the
    resource-allocation index (Zhou, Lu & Zhang, EPJ B 2009) over the
    undirected simple graph: for every non-adjacent pair sharing
    >= ``min_common`` neighbors, RA = sum over common neighbors z of
    1/deg(z) — the low-degree-weighted refinement of common-neighbor
    counting (a shared degree-2 node is strong evidence; a shared
    million-degree hub is none), consistently among the strongest
    unsupervised predictors in the published benchmarks.

    Exactness: the float form's summation order is engine-dependent, so
    the score is DEFINED in integer nano-units — per-term truncating
    division ``unit div deg(z)`` then an exact associative integer SUM
    — bit-identical on any engine (same discipline as the fixed-point
    PageRank; ra = ra_nano/unit when a float is wanted).

    Plan: the Jaccard operator's wedge enumeration with the apex degree
    joined INTO the wedge stream before the (a, b) groupBy; same hub
    caveat and the same documented 10^12-edge path (prefix-filtered
    set-similarity over neighbor sets + stop-node removal) — this is
    the exact form and that path's oracle."""
    ed = edges.select(
        F.col(src_col).alias("_a"), F.col(dst_col).alias("_b")
    ).filter(F.col("_a") != F.col("_b"))
    sym = (
        ed.unionByName(
            ed.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
        )
        .distinct()
        .persist()
    )
    deg = sym.groupBy("_a").agg(F.count(F.lit(1)).alias("_d"))
    s1 = sym.select(F.col("_a").alias("_n"), F.col("_b").alias("_x"))
    s2 = sym.select(F.col("_a").alias("_n"), F.col("_b").alias("_y"))
    weighted = (
        s1.join(s2, "_n")
        .filter(F.col("_x") < F.col("_y"))
        .join(deg.withColumnsRenamed({"_a": "_n", "_d": "_dn"}), "_n")
        .select("_x", "_y", F.expr(f"{int(unit)} div _dn").alias("_w"))
    )
    grouped = (
        weighted.groupBy("_x", "_y")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("_w").alias("ra_nano"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    out = grouped.join(
        sym.select(F.col("_a").alias("_x"), F.col("_b").alias("_y")),
        ["_x", "_y"],
        "anti",
    ).select(
        F.col("_x").alias("node_a"),
        F.col("_y").alias("node_b"),
        "n_common",
        "ra_nano",
    )
    from .lsh import _CacheHandle

    out.ra_cache = _CacheHandle(sym)
    return out


def resource_allocation_sql(
    edges_rel: str, min_common: int = 2, unit: int = 1_000_000_000
) -> str:
    """DuckDB twin of resource_allocation_link_prediction: same wedge
    stream, same per-term `//` truncating division, same integer sum."""
    return f"""
WITH ed AS (SELECT src AS a, dst AS b FROM {edges_rel} WHERE src <> dst),
sym AS (SELECT DISTINCT a, b FROM (
  SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed)),
deg AS (SELECT a AS n, COUNT(*) AS d FROM sym GROUP BY a),
wedges AS (
  SELECT s1.b AS x, s2.b AS y, {int(unit)} // deg.d AS w
  FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
  JOIN deg ON deg.n = s1.a),
grouped AS (
  SELECT x, y, COUNT(*) AS n_common, SUM(w) AS ra_nano
  FROM wedges GROUP BY x, y
  HAVING COUNT(*) >= {int(min_common)})
SELECT g.x AS node_a, g.y AS node_b, g.n_common,
       CAST(g.ra_nano AS BIGINT) AS ra_nano
FROM grouped g
WHERE NOT EXISTS (SELECT 1 FROM sym WHERE sym.a = g.x AND sym.b = g.y)
"""


# --- rectangle (4-cycle) census ---------------------------------------


def rectangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One row (n_wedges, n_diagonal_pairs, n_rectangles) for the
    undirected simple graph: the 4-cycle census, the next motif after
    the triangle (bipartite-style cohesion that triangles miss — two
    entities sharing TWO distinct co-mention partners).  lambda(u, w) =
    number of common neighbors of the pair; each 4-cycle has two
    diagonals, each contributing C(lambda, 2) once, so
    n_rectangles = sum C(lambda, 2) / 2 (always even; exact integer).

    Plan: apex-keyed wedge enumeration (each wedge once: apex z,
    endpoints u < w) -> groupBy(u, w) count -> one integer fold.  Work
    is sum C(deg, 2) — the same hub-apex quadratic fan as the Jaccard/
    RA wedge stream, with the same mitigations (stop-node removal,
    degree caps); the Chiba-Nishizeki/butterfly degree-ordered
    refinement is the documented optimization path if a hub-heavy graph
    needs this census exactly."""
    ed = edges.select(
        F.col(src_col).alias("_a"), F.col(dst_col).alias("_b")
    ).filter(F.col("_a") != F.col("_b"))
    sym = (
        ed.unionByName(
            ed.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
        )
        .distinct()
        .persist()
    )
    s1 = sym.select(F.col("_a").alias("_n"), F.col("_b").alias("_x"))
    s2 = sym.select(F.col("_a").alias("_n"), F.col("_b").alias("_y"))
    lam = (
        s1.join(s2, "_n")
        .filter(F.col("_x") < F.col("_y"))
        .groupBy("_x", "_y")
        .agg(F.count(F.lit(1)).alias("_lam"))
    )
    out = lam.agg(
        F.sum("_lam").alias("n_wedges"),
        F.count(F.lit(1)).alias("n_diagonal_pairs"),
        F.expr("sum(_lam * (_lam - 1)) div 4").alias("n_rectangles"),
    )
    from .lsh import _CacheHandle

    out.rectangle_cache = _CacheHandle(sym)
    return out


def rectangle_sql(edges_rel: str) -> str:
    """DuckDB twin of rectangle_count — same wedge stream, same integer
    fold (sum lam*(lam-1) is 2*sum C(lam,2), over 2 diagonals -> /4;
    divisibility by 4 holds identically on both engines)."""
    return f"""
WITH ed AS (SELECT src AS a, dst AS b FROM {edges_rel} WHERE src <> dst),
sym AS (SELECT DISTINCT a, b FROM (
  SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed)),
lam AS (
  SELECT s1.b AS x, s2.b AS y, COUNT(*) AS l
  FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
  GROUP BY s1.b, s2.b)
SELECT CAST(SUM(l) AS BIGINT) AS n_wedges,
       COUNT(*) AS n_diagonal_pairs,
       CAST(SUM(l * (l - 1)) // 4 AS BIGINT) AS n_rectangles
FROM lam
"""
