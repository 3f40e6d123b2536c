"""Driver-contract queries (SURVEY.md §2.2 checklist) + DuckDB oracles.

Every implemented operator category lands here as a (spark_fn, oracle_sql)
pair over the driver-provided tables at sf_dir.  Conventions that keep the
driver's order-insensitive value-hash comparison stable across engines:

- every computed column aliased identically in Spark and SQL;
- doubles rounded (ROUND(x, 3..4)) on BOTH sides — partial/final agg order
  differs between engines, so raw double sums differ in final ulps;
- no floating rank columns in output where adjacent scores can be close;
- deterministic total orderings wherever LIMIT is used.

KG-pipeline entries (kg_*) operate on the synthesized interleaved corpus
(FIXTURES.md) — not SQL-expressible (encoder UDF), so they ship without an
oracle and get the driver's rows-only check; their real gate is
tests/test_pipeline_exact.py (P/R vs the NumPy oracle).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.link import cosine_expr
from ..operators.topk import topk_per_group


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Money/quantity columns in the driver tables are exact 2-decimal values
# stored as doubles.  Summing them as doubles puts ROUND(sum, 3) on a
# last-ulp boundary whenever Spark's and DuckDB's partial-agg orders
# differ (the round-1 q3 hash miss).  Computing in decimal(18,2) is
# lossless for 2-dp data and makes the sum EXACT on both engines; the
# final cast back to double keeps the contract schema.
def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


# (1 - l_discount) as an exact decimal: 1.00 - d, scale 2.
# A function, not a module constant: building a Column requires an
# active SparkContext, and this module must import session-free.
def _one():
    return F.lit(1).cast("decimal(3,2)")


# ---------------------------------------------------------------------------
# aggregation / scan / filter
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter + hash agg (partial+final automatic)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 3).cast("double")
            .alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 3).cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount"))),
                3,
            ).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 3) AS DOUBLE)
         AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 3) AS DOUBLE)
         AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(3,2))
                         - CAST(l_discount AS DECIMAL(18,2)))), 3) AS DOUBLE)
         AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def filter_project_pushdown(spark, sf_dir):
    """Predicate + projection pushdown to the parquet scan (PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45) & (F.col("l_discount") < 0.02)
    ).select("l_orderkey", "l_partkey", "l_quantity")


FILTER_SQL = """
SELECT l_orderkey, l_partkey, l_quantity
FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02
"""


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

def q3_top_unshipped_revenue(spark, sf_dir):
    """3-way join + agg + deterministic global top-10.

    The join strategy is the planner's: AQE picks a broadcast build
    from runtime sizes (autoBroadcastJoinThreshold), so no hint forces
    a build side that could outgrow executor memory at scale.  Grouping
    on l_orderkey (equal to o_orderkey on every joined row) lets a
    shuffled join's partitioning serve the aggregate too."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    co = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey")
    )
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(co, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount"))),
                3,
            ).cast("double").alias("revenue")
        )
        .select(F.col("l_orderkey").alias("o_orderkey"), "revenue")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(3,2))
                         - CAST(l_discount AS DECIMAL(18,2)))), 3) AS DOUBLE)
         AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def join_broadcast_dims(spark, sf_dir):
    """Star-schema dim chain supplier->nation->region; small dims broadcast
    (Catalyst picks BroadcastHashJoin; verified in tests via the plan)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(_dec("s_acctbal")), 3).cast("double")
            .alias("sum_acctbal"),
        )
    )


JOIN_DIMS_SQL = """
SELECT r_name, COUNT(*) AS n_suppliers,
       CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,2))), 3) AS DOUBLE)
         AS sum_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def semi_join_customers_with_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def anti_join_customers_without_orders(spark, sf_dir):
    """The reference's skip/already-indexed resume check is exactly this
    anti-join shape (build-index.py:36-44)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q5_region_revenue(spark, sf_dir):
    """5-way join + agg — the lineitem fact streams through the joins.

    nation and region are broadcast (25 and 5 rows at every scale);
    customer⋈orders and supplier are left to the planner, which AQE
    broadcasts from runtime sizes below autoBroadcastJoinThreshold."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    co = c.join(o, F.col("c_custkey") == F.col("o_custkey")).select(
        "o_orderkey", "c_nationkey"
    )
    return (
        li.join(co, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount"))),
                3,
            ).cast("double").alias("revenue")
        )
    )


Q5_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(3,2))
                         - CAST(l_discount AS DECIMAL(18,2)))), 3) AS DOUBLE)
         AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# window / sort / set ops / dedup
# ---------------------------------------------------------------------------

def window_topk_orders_per_cust(spark, sf_dir):
    """Per-group top-k window — the engine's core ranking primitive
    (reference: faiss top-k, query-index.py:111)."""
    o = _t(spark, sf_dir, "orders")
    top = topk_per_group(
        o, ["o_custkey"], "o_totalprice", k=3, tiebreak_cols=["o_orderkey"]
    )
    return top.select(
        "o_custkey", "o_orderkey",
        F.round("o_totalprice", 3).alias("price"), "rank",
    )


WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 3) AS price, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) WHERE rank <= 3
"""


def agg_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


COUNT_DISTINCT_SQL = """
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def union_dedup_nationkeys(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


UNION_SQL = """
SELECT DISTINCT nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL SELECT s_nationkey AS nationkey FROM supplier)
"""


def sort_limit_top_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select("o_orderkey", "o_custkey",
                F.round("o_totalprice", 3).alias("price"))
    )


SORT_LIMIT_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 3) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


def rollup_lineitem_flags(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# string / date / conditional
# ---------------------------------------------------------------------------

def string_funcs_part(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.withColumn("first_word", F.split(F.col("p_name"), " ").getItem(0))
        .groupBy("first_word")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
            F.max(F.upper("p_brand")).alias("max_brand_upper"),
        )
    )


STRING_SQL = """
SELECT string_split(p_name, ' ')[1] AS first_word,
       COUNT(*) AS n_parts,
       ROUND(AVG(p_retailprice), 4) AS avg_price,
       MAX(UPPER(p_brand)) AS max_brand_upper
FROM part GROUP BY 1
"""


def date_funcs_orders_monthly(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(_dec("o_totalprice")), 3).cast("double")
        .alias("sum_price"),
    )


DATE_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 3) AS DOUBLE)
         AS sum_price
FROM orders GROUP BY 1, 2
"""


def case_when_conditional_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(
            F.sum(
                F.when(F.col("l_returnflag") == "R",
                       _dec("l_extendedprice"))
                .otherwise(F.lit(0).cast("decimal(18,2)"))
            ), 3,
        ).cast("double").alias("returned_value"),
        F.round(
            F.avg(F.when(F.col("l_discount") > 0.05, F.col("l_quantity"))), 4
        ).alias("avg_qty_high_disc"),
    )


CASE_SQL = """
SELECT l_linestatus,
       CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R'
                           THEN CAST(l_extendedprice AS DECIMAL(18,2))
                           ELSE CAST(0 AS DECIMAL(18,2)) END), 3) AS DOUBLE)
         AS returned_value,
       ROUND(AVG(CASE WHEN l_discount > 0.05 THEN l_quantity END), 4)
         AS avg_qty_high_disc
FROM lineitem GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# events: time series / window functions with frames
# ---------------------------------------------------------------------------

def events_user_activity(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


EVENTS_AGG_SQL = """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       ROUND(AVG(value), 4) AS avg_value
FROM events GROUP BY event_type
"""


def events_lag_gap(spark, sf_dir):
    """lag() window over event time — per-user mean inter-event gap (sec)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; timestampdiff(MICROSECOND) is timezone-free and
    # exact-integer on us-precision data, so it hashes identically to the
    # DuckDB oracle regardless of the driver session's timezone.
    gaps = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "gap_s",
        F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") / F.lit(1000000.0),
    )
    return gaps.groupBy("user_id").agg(
        F.round(F.avg("gap_s"), 3).alias("avg_gap_s"),
        F.count("gap_s").alias("n_gaps"),
    )


EVENTS_LAG_SQL = """
SELECT user_id,
       ROUND(AVG(gap_s), 3) AS avg_gap_s,
       COUNT(gap_s) AS n_gaps
FROM (
  SELECT user_id,
         date_diff('microsecond',
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) / 1000000.0 AS gap_s
  FROM events)
GROUP BY user_id
"""


def events_sessionization(spark, sf_dir):
    """Batch gap-based sessionization (30-min inactivity closes a
    session): session index = running count of gap-exceeded boundaries —
    the batch twin of streaming/sessions.py's applyInPandasWithState
    sessionizer, expressed as two window functions (SQL-oracle-able)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    new_sess = F.when(
        F.col("prev_ts").isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("sess_idx", F.sum(new_sess).over(wsum))
    )
    return sess.groupBy("user_id", "sess_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))")
            / F.lit(1_000_000.0)
        ).alias("duration_s"),
    )


SESSIONIZE_SQL = """
SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx, COUNT(*) AS n_events,
       date_diff('microsecond', MIN(ts), MAX(ts)) / 1000000.0 AS duration_s
FROM (
  SELECT user_id, event_id, ts,
         SUM(CASE WHEN prev_ts IS NULL
                    OR date_diff('microsecond', prev_ts, ts) > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_idx
  FROM (
    SELECT user_id, event_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_ts
    FROM events))
GROUP BY user_id, sess_idx
"""


# ---------------------------------------------------------------------------
# documents: dedup + text analysis
# ---------------------------------------------------------------------------

def doc_exact_dedup(spark, sf_dir):
    """Exact dedup via content hash: keep min doc_id per md5(text) group —
    the pipeline's 'already indexed' idempotency check at corpus scale."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


DEDUP_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def doc_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 4).alias(
            "avg_tokens"
        ),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


TOKEN_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
       ROUND(AVG(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang
"""


def doc_bpe_token_stats(spark, sf_dir):
    """BPE-ish pretokenizer counts vs whitespace counts per language —
    the token-accounting pass a training-data pipeline budgets with."""
    from ..functions.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.round(F.avg(bpe_token_count("text")), 4).alias("avg_bpe_tokens"),
        F.round(F.avg(token_count("text")), 4).alias("avg_ws_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _bpe_sql() -> str:
    from ..functions.text import BPE_SPLIT_RE

    pat = BPE_SPLIT_RE.replace("'", "''")
    return f"""
SELECT lang,
       ROUND(AVG(len(regexp_extract_all(text, '{pat}'))), 4)
         AS avg_bpe_tokens,
       ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_ws_tokens,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang
"""


def doc_quality_score(spark, sf_dir):
    """Text-quality heuristic: alpha ratio + mean word length per source."""
    d = _t(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    return (
        d.withColumn(
            "alpha_ratio", alpha / F.nullif(F.length("text"), F.lit(0))
        )
        .groupBy("source")
        .agg(
            F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha_ratio"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


QUALITY_SQL = """
SELECT source,
       ROUND(AVG(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                 / NULLIF(length(text), 0)), 4) AS avg_alpha_ratio,
       COUNT(*) AS n_docs
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

def knn_bruteforce_cosine(spark, sf_dir):
    """Exact cosine top-5 per probe vector — the reference's search
    semantics (query-index.py:111) on the driver's embeddings table.
    Pure Catalyst: broadcast cross join + zip_with dot + rank window."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    cands = e.filter(F.col("vec_id") >= 8)
    norm = lambda c: F.sqrt(cosine_expr(c, c))  # noqa: E731
    scored = (
        cands.crossJoin(F.broadcast(probes))
        .withColumn(
            "cos",
            cosine_expr("pe", "embedding")
            / (norm("pe") * norm("embedding")),
        )
    )
    top = topk_per_group(
        scored, ["probe_id"], "cos", k=5, tiebreak_cols=["vec_id"]
    )
    return top.select(
        "probe_id", "vec_id", F.round("cos", 4).alias("cos_sim")
    )


# Explicit f64 cosine (dot / (sqrt * sqrt) over DOUBLE[] casts): DuckDB's
# list_cosine_similarity on FLOAT[] computes in float32, which disagrees
# with Spark's f64 fold in the last ulps and can flip ROUND(x, 4) on a
# .00005 boundary.  The expression below mirrors the Spark expression
# tree op-for-op, so the doubles are bit-identical.
KNN_SQL = """
SELECT probe_id, vec_id, ROUND(cos, 4) AS cos_sim FROM (
  SELECT probe_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY probe_id
                            ORDER BY cos DESC, vec_id ASC) AS rn
  FROM (
    SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
           list_dot_product(CAST(p.embedding AS DOUBLE[]),
                            CAST(c.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                    CAST(p.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))))
             AS cos
    FROM (SELECT * FROM embeddings WHERE vec_id < 8) p,
         (SELECT * FROM embeddings WHERE vec_id >= 8) c))
WHERE rn <= 5
"""


def embedding_norm_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.round(F.avg(F.sqrt(cosine_expr("embedding", "embedding"))), 4)
        .alias("avg_norm"),
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(F.size("embedding")), 2).alias("avg_dim"),
    )


NORM_SQL = """
SELECT label,
       ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 4)
         AS avg_norm,
       COUNT(*) AS n_vecs,
       ROUND(AVG(len(embedding)), 2) AS avg_dim
FROM embeddings GROUP BY label
"""


def left_outer_nation_customers(spark, sf_dir):
    """LEFT OUTER join with null-side aggregation (nations with zero
    customers keep a row; COALESCE folds the null side)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_dec("c_acctbal")).alias("_bal"),
    )
    return (
        n.join(per_nation, F.col("n_nationkey") == F.col("c_nationkey"),
               "left_outer")
        .select(
            "n_name",
            F.coalesce("_n", F.lit(0)).alias("n_customers"),
            F.round(
                F.coalesce("_bal", F.lit(0).cast("decimal(18,2)")), 3
            ).cast("double").alias("sum_acctbal"),
        )
    )


LEFT_OUTER_SQL = """
SELECT n_name,
       COALESCE(cnt, 0) AS n_customers,
       CAST(ROUND(COALESCE(bal, CAST(0 AS DECIMAL(18,2))), 3) AS DOUBLE)
         AS sum_acctbal
FROM nation LEFT OUTER JOIN (
  SELECT c_nationkey, COUNT(*) AS cnt,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
  FROM customer GROUP BY c_nationkey) c
ON n_nationkey = c_nationkey
"""


def window_running_total(spark, sf_dir):
    """Explicit frame spec: running total per customer over order id
    (ROWS UNBOUNDED PRECEDING .. CURRENT ROW on a unique ordering)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(_dec("o_totalprice")).over(w), 3).cast("double")
        .alias("running_total"),
    )


RUNNING_TOTAL_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS DOUBLE)
       AS running_total
FROM orders
"""


def percentiles_lineitem(spark, sf_dir):
    """Exact interpolated percentiles (median/p95) per return flag."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 3).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 3).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


PERCENTILES_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 3) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 3) AS p95,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def agg_nations_per_region(spark, sf_dir):
    """Ordered set aggregation: sorted distinct nation list per region."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("n_name")), ","
            ).alias("nations")
        )
    )


NATIONS_AGG_SQL = """
SELECT r_name,
       array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def pivot_returnflag_by_status(spark, sf_dir):
    """Pivot (groupBy().pivot()) — conditional-aggregation twin in SQL."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum(_dec("l_quantity")), 3).cast("double"))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
    )


PIVOT_SQL = """
SELECT l_returnflag,
       CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F'
                      THEN CAST(l_quantity AS DECIMAL(18,2)) END), 3)
            AS DOUBLE) AS qty_f,
       CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O'
                      THEN CAST(l_quantity AS DECIMAL(18,2)) END), 3)
            AS DOUBLE) AS qty_o
FROM lineitem GROUP BY l_returnflag
"""


def except_customer_only_nations(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return c.select(F.col("c_nationkey").alias("nationkey")).exceptAll(
        s.select(F.col("s_nationkey").alias("nationkey"))
    ).distinct()


EXCEPT_SQL = """
SELECT DISTINCT nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT ALL
  SELECT s_nationkey AS nationkey FROM supplier)
"""


def intersect_nations(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return c.select(F.col("c_nationkey").alias("nationkey")).intersect(
        s.select(F.col("s_nationkey").alias("nationkey"))
    )


INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def scalar_subquery_above_avg(spark, sf_dir):
    """Orders above the global average price — scalar subquery shape."""
    o = _t(spark, sf_dir, "orders")
    avg_price = o.agg(F.avg("o_totalprice").alias("_avg"))
    return (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
    )


SCALAR_SUBQ_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_above_avg
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
GROUP BY o_orderpriority
"""


def having_big_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")), 3).cast("double")
            .alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 8)
    )


HAVING_SQL = """
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 3) AS DOUBLE)
         AS total_spend
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 8
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def doc_lang_id(spark, sf_dir):
    """Stopword-marker language-ID heuristic; predicted-language counts."""
    from ..functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.groupBy(lang_id("text").alias("lang_pred")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _hits_sql(lang_words: list[str]) -> str:
    return " + ".join(
        f"(len(string_split(_p, ' {w} ')) - 1)" for w in lang_words
    )


def _lang_sql() -> str:
    from ..functions.text import LANG_MARKERS

    cols = ",\n       ".join(
        f"({_hits_sql(ws)}) AS _{lang}" for lang, ws in LANG_MARKERS.items()
    )
    # tie-break mirrors Spark struct-max: max (hits, lang) — check the
    # lexicographically larger language first
    return f"""
SELECT lang_pred, COUNT(*) AS n_docs FROM (
  SELECT CASE
           WHEN greatest(_en,_de,_fr,_es) = 0 THEN 'und'
           WHEN _fr = greatest(_en,_de,_fr,_es) THEN 'fr'
           WHEN _es = greatest(_en,_de,_fr,_es) THEN 'es'
           WHEN _en = greatest(_en,_de,_fr,_es) THEN 'en'
           ELSE 'de'
         END AS lang_pred
  FROM (SELECT {cols}
        FROM (SELECT ' ' || lower(text) || ' ' AS _p FROM documents)))
GROUP BY lang_pred
"""


def doc_quality_composite(spark, sf_dir):
    from ..functions.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.round(F.avg(quality_score("text")), 4).alias("avg_quality"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# quality_score's SQL twin as an expression fragment (reused by the
# curation oracle)
_QUALITY_Q_EXPR = """ROUND((COALESCE(length(regexp_replace(text,'[^a-zA-Z]','','g'))
                         / NULLIF(length(text),0), 0.0)
                + CASE WHEN (length(text) - len(string_split(text,' ')) + 1)
                            / NULLIF(len(string_split(text,' ')),0)
                       BETWEEN 2 AND 12 THEN 1.0 ELSE 0.0 END
                + CASE WHEN (len(string_split(' '||lower(text)||' ',' the '))-1)
                          + (len(string_split(' '||lower(text)||' ',' and '))-1)
                          + (len(string_split(' '||lower(text)||' ',' of '))-1)
                          + (len(string_split(' '||lower(text)||' ',' to '))-1)
                          + (len(string_split(' '||lower(text)||' ',' a '))-1)
                       > 0 THEN 1.0 ELSE 0.0 END) / 3.0, 6)"""

QUALITY_COMPOSITE_SQL = f"""
SELECT source, ROUND(AVG(q), 4) AS avg_quality, COUNT(*) AS n_docs FROM (
  SELECT source, {_QUALITY_Q_EXPR} AS q
  FROM documents)
GROUP BY source
"""


def doc_fingerprint_dedup(spark, sf_dir):
    """Exact-content fingerprint: distinct-fingerprint count must equal
    distinct normalized text count (hash values themselves are engine-
    specific; cardinality is the invariant)."""
    from ..functions.text import content_fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(content_fingerprint("text")).alias("n_distinct"),
    )


FINGERPRINT_SQL = """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         AS n_distinct
FROM documents
"""


def doc_ngram_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs via shingle inverted index."""
    from ..operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.02)
    return pairs.select(
        "src", "dst", F.round("jaccard", 4).alias("jaccard")
    )


NGRAM_SQL = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, string_split(lower(text), ' ') AS t
  FROM documents),
grams AS (
  SELECT DISTINCT id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)),
sizes AS (SELECT id, COUNT(*) AS sz FROM grams GROUP BY id),
inter AS (
  SELECT a.id AS src, b.id AS dst, COUNT(*) AS i
  FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT src, dst,
       ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.id = src JOIN sizes sb ON sb.id = dst
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.02
"""


_PII_PLANT = (
    " reach me at john.doe@example.com or 555-123-4567 from 192.168.1.77"
)


def doc_pii_scrub(spark, sf_dir):
    """PII scrub stage (curation before corpus export): per-doc match
    counts + typed-placeholder redaction, pure Catalyst regexp.  PII is
    PLANTED inside the query (every 9th doc gets the same appended
    contact line on BOTH engines) because the synthetic corpus contains
    none — the entry checks the regex/redaction machinery, including
    the full scrubbed strings, not the fixture."""
    from ..functions.text import pii_counts, pii_scrub

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(_PII_PLANT)),
        ).otherwise(F.col("text")).alias("text"),
    )
    cnt = pii_counts("text")
    return planted.select(
        "doc_id",
        cnt["email"].alias("n_email"),
        cnt["phone"].alias("n_phone"),
        cnt["ipv4"].alias("n_ipv4"),
        pii_scrub("text").alias("scrubbed"),
    ).filter(
        (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")) > 0
    )


def _pii_sql() -> str:
    from ..functions.text import PII_PATTERNS

    em, ph, ip = (PII_PATTERNS[k] for k in ("email", "phone", "ipv4"))
    return f"""
WITH planted AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN doc_id % 9 = 0 THEN text || '{_PII_PLANT}'
              ELSE text END AS text
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{ph}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '{ip}')) AS BIGINT) AS n_ipv4,
       regexp_replace(regexp_replace(regexp_replace(
         text, '{em}', '<EMAIL>', 'g'), '{ph}', '<PHONE>', 'g'),
         '{ip}', '<IPV4>', 'g') AS scrubbed
FROM planted
WHERE len(regexp_extract_all(text, '{em}'))
      + len(regexp_extract_all(text, '{ph}'))
      + len(regexp_extract_all(text, '{ip}')) > 0
"""


def doc_contamination_probes(spark, sf_dir):
    """Train/eval decontamination (GPT-3 §C-style n-gram scrub; 13-grams
    there, 3-grams here so the synthetic corpus yields a meaningful hit
    set): every 40th document plays the eval probe; a hit = a corpus doc
    sharing >= 2 distinct word trigrams with a probe (probe's own doc
    excluded).  Corpus side scans once; probe n-gram table broadcasts."""
    from ..operators.dedup import ngram_contamination

    d = _t(spark, sf_dir, "documents")
    docs = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    probes = d.filter(F.col("doc_id") % 40 == 0).select(
        F.col("doc_id").cast("string").alias("probe_id"), "text"
    )
    out = ngram_contamination(docs, probes, n=3, min_overlap=2)
    return out.filter(F.col("doc_id") != F.col("probe_id")).select(
        "doc_id", "probe_id", "n_overlap",
        F.round("overlap_frac", 4).alias("overlap_frac"),
    )


def _contamination_sql(n: int = 3, min_overlap: int = 2,
                       every: int = 40) -> str:
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, doc_id AS nid,
         string_split(lower(text), ' ') AS t
  FROM documents),
dg AS (
  SELECT DISTINCT id, array_to_string(t[i:i+{n - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, greatest(len(t) - {n - 1}, 1) + 1)) AS u(i)),
pg AS (
  SELECT DISTINCT id AS pid, array_to_string(t[i:i+{n - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, greatest(len(t) - {n - 1}, 1) + 1)) AS u(i)
  WHERE nid % {every} = 0),
pn AS (SELECT pid, COUNT(*) AS n FROM pg GROUP BY pid),
hits AS (
  SELECT dg.id AS doc_id, pg.pid AS probe_id, COUNT(*) AS n_overlap
  FROM dg JOIN pg ON dg.g = pg.g
  GROUP BY dg.id, pg.pid
  HAVING COUNT(*) >= {min_overlap})
SELECT doc_id, probe_id, n_overlap,
       ROUND(n_overlap * 1.0 / pn.n, 4) AS overlap_frac
FROM hits JOIN pn ON pn.pid = hits.probe_id
WHERE doc_id <> probe_id
"""


# ---------------------------------------------------------------------------
# dedup — signature/fingerprint tables are STAGED to parquet by the Spark
# query, then BOTH engines derive pairs from the same staged bytes: the
# oracle checks the banding + verification logic end-to-end even though
# the hash values themselves are engine-specific.
# ---------------------------------------------------------------------------

# Staging root: deterministic (the oracle SQL strings are static and may
# be rendered in a different process than the one that runs the Spark
# queries, so mkdtemp would desync the two sides), but uid-scoped so
# shared-host users can't squat each other's path, and env-overridable
# (CLI_P_SPARK_STAGE_DIR) so concurrent runs can isolate themselves.
_STAGE_DIR = os.environ.get(
    "CLI_P_SPARK_STAGE_DIR", f"/tmp/cli_p_spark_oracle_u{os.getuid()}"
)


def _stage(df, name: str) -> "DataFrame":
    """Write a deterministic intermediate where the DuckDB oracle can
    read_parquet it, and return the read-back frame (so the Spark result
    provably derives from the staged bytes, not a recomputation).

    The path is deterministic per-uid (see _STAGE_DIR), so staged entries
    assume one driver-contract run at a time per user unless
    CLI_P_SPARK_STAGE_DIR isolates them.  Content is deterministic, so a
    stale file from a previous run of the same corpus is harmless."""
    path = f"{_STAGE_DIR}/{name}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _staged_sql(name: str) -> str:
    return f"read_parquet('{_STAGE_DIR}/{name}/*.parquet')"


def _docs_as_text(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )


def minhash_dedup_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs, banded+verified from staged signatures
    (bucket guard disabled here so the banding semantics are exactly the
    oracle's EXISTS-equal-band predicate)."""
    from ..operators.dedup import (
        lsh_pairs_from_signatures,
        minhash_signatures,
    )

    d = _docs_as_text(spark, sf_dir)
    sig = _stage(
        minhash_signatures(d, "text", "doc_id", n_hashes=64, shingle_w=3),
        "minhash_sigs",
    )
    return lsh_pairs_from_signatures(
        sig, n_hashes=64, bands=16, jaccard_threshold=0.5,
        max_bucket=1 << 30,
    )


def _minhash_sql() -> str:
    r, bands, n = 4, 16, 64
    band_eq = " OR ".join(
        f"a._sig[{b * r + 1}:{b * r + r}] = b._sig[{b * r + 1}:{b * r + r}]"
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN a._sig[{i}] = b._sig[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, n + 1)
    )
    return f"""
SELECT src, dst, jaccard FROM (
  SELECT a._id AS src, b._id AS dst, ({agree}) / {n}.0 AS jaccard
  FROM {_staged_sql('minhash_sigs')} a
  JOIN {_staged_sql('minhash_sigs')} b ON a._id < b._id
  WHERE {band_eq})
WHERE jaccard >= 0.5
"""


def part_name_fuzzy_pairs(spark, sf_dir):
    """Fuzzy entity-name matching: every distinct part-name pair within
    Levenshtein 2, via symmetric-delete blocking (operators/fuzzy.py:
    complete recall by the SymSpell guarantee, candidates from a
    variant equi-join over the staged blocking index, one built-in
    levenshtein per candidate).  The surface-form half of entity
    canonicalization — typo'd names merge here, synonymous mentions
    merge in the embedding-LSH path."""
    from ..operators.fuzzy import fuzzy_name_pairs, name_variant_rows

    p = _t(spark, sf_dir, "part")
    variants = _stage(
        name_variant_rows(p, "p_name", max_dist=2), "fuzzy_variants"
    )
    return fuzzy_name_pairs(
        p, "p_name", max_dist=2, max_bucket=1 << 30,
        variant_rows=variants,
    )


def _fuzzy_sql() -> str:
    from ..operators.fuzzy import fuzzy_pairs_sql

    return fuzzy_pairs_sql(_staged_sql("fuzzy_variants"), max_dist=2)


def doc_incremental_neardup(spark, sf_dir):
    """Incremental near-dedup: the ~1/8 md5-split "daily batch" LSH-paired
    against the stored corpus signatures WITHOUT re-banding the corpus
    (operators/dedup.py incremental_lsh_pairs: join volume tracks the
    batch, not the 10^12-doc corpus; oversized index buckets degrade to
    the linear star).  Bucket guard disabled here so the banding
    semantics are exactly the oracle's EXISTS-equal-band predicate."""
    from ..operators.dedup import (
        incremental_lsh_pairs,
        minhash_signatures,
    )

    d = _docs_as_text(spark, sf_dir)
    sig = minhash_signatures(d, "text", "doc_id", n_hashes=64, shingle_w=3)
    is_new = F.md5(F.concat(F.lit("inc:"), F.col("_id"))) < "2"
    new_sig = _stage(sig.filter(is_new), "inc_new_sigs")
    corpus_sig = _stage(sig.filter(~is_new), "inc_corpus_sigs")
    out = incremental_lsh_pairs(
        new_sig, corpus_sig, n_hashes=64, bands=16,
        jaccard_threshold=0.5, max_bucket=1 << 30,
    )
    staged = _stage(out, "inc_pairs")
    out.signature_cache.unpersist()
    return staged


def _incremental_sql() -> str:
    r, bands, n = 4, 16, 64
    band_eq = " OR ".join(
        f"a._sig[{b * r + 1}:{b * r + r}] = b._sig[{b * r + 1}:{b * r + r}]"
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN a._sig[{i}] = b._sig[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, n + 1)
    )
    new_rel = _staged_sql("inc_new_sigs")
    corpus_rel = _staged_sql("inc_corpus_sigs")
    return f"""
SELECT src, dst, jaccard FROM (
  SELECT a._id AS src, b._id AS dst, ({agree}) / {n}.0 AS jaccard
  FROM {new_rel} a JOIN {corpus_rel} b ON TRUE
  WHERE {band_eq}
  UNION ALL
  SELECT a._id AS src, b._id AS dst, ({agree}) / {n}.0 AS jaccard
  FROM {new_rel} a JOIN {new_rel} b ON a._id < b._id
  WHERE {band_eq})
WHERE jaccard >= 0.5
"""


def simhash_dedup_pairs(spark, sf_dir):
    """SimHash near-dup pairs, banded+verified from staged fingerprints."""
    from ..operators.dedup import (
        simhash_fingerprints,
        simhash_pairs_from_fingerprints,
    )

    d = _docs_as_text(spark, sf_dir)
    fp = _stage(
        simhash_fingerprints(d, "text", "doc_id"), "simhash_fps"
    )
    return simhash_pairs_from_fingerprints(fp, max_hamming=3, bands=4)


def _simhash_sql() -> str:
    band_eq = " OR ".join(
        f"((a._fp >> {b * 16}) & 65535) = ((b._fp >> {b * 16}) & 65535)"
        for b in range(4)
    )
    return f"""
SELECT src, dst, hamming FROM (
  SELECT a._id AS src, b._id AS dst,
         CAST(bit_count(xor(a._fp, b._fp)) AS INTEGER) AS hamming
  FROM {_staged_sql('simhash_fps')} a
  JOIN {_staged_sql('simhash_fps')} b ON a._id < b._id
  WHERE {band_eq})
WHERE hamming <= 3
"""


def doc_winnow_neardup(spark, sf_dir):
    """Winnowing near-dup pairs (Schleimer'03) from staged fingerprints:
    both engines count shared window-min k-gram hashes over the same
    staged bytes."""
    from ..operators.dedup import (
        winnow_fingerprints,
        winnow_pairs_from_fingerprints,
    )

    d = _docs_as_text(spark, sf_dir)
    fps = _stage(
        winnow_fingerprints(d, "text", "doc_id", w=8, k=4), "winnow_fps"
    )
    return winnow_pairs_from_fingerprints(fps, min_shared=2)


WINNOW_SQL = f"""
SELECT a._id AS src, b._id AS dst, COUNT(*) AS n_shared
FROM {_staged_sql('winnow_fps')} a
JOIN {_staged_sql('winnow_fps')} b ON a._fp = b._fp AND a._id < b._id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def embedding_neardup_cosine(spark, sf_dir):
    """Cosine pairs >= 0.4 via the distributed IVF bucket self-join at
    nprobe=nlist (exhaustive => exact => SQL-oracle-able).  No top-k cap:
    the result is ALL pairs above tau, matching the all-pairs oracle for
    any data distribution."""
    from ..operators.dedup import embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(
        e, "embedding", "vec_id", tau=0.4, nlist=32, nprobe=32
    )
    return pairs.select(
        "src", "dst", F.round("cosine", 4).alias("cosine")
    )


# Replays the Spark pipeline op-for-op in f64: unit-normalize each vector
# (f64 norm, zero-norm guard, components rounded back to REAL exactly as
# the engine stores them), then f64 dot of the unit vectors — so the
# ROUND(cos, 4) values are bit-identical, not merely close.
NEARDUP_SQL = """
WITH n AS (
  SELECT CAST(vec_id AS VARCHAR) AS id, embedding,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings),
u AS (
  SELECT id,
         list_transform(
           embedding,
           x -> CAST(CAST(x AS DOUBLE)
                     / (CASE WHEN nn < 1e-9 THEN 1.0 ELSE nn END)
                     AS REAL)) AS e
  FROM n)
SELECT src, dst, ROUND(cos, 4) AS cosine FROM (
  SELECT a.id AS src, b.id AS dst,
         list_dot_product(CAST(a.e AS DOUBLE[]),
                          CAST(b.e AS DOUBLE[])) AS cos
  FROM u a JOIN u b ON a.id < b.id)
WHERE cos >= 0.4
"""


def corpus_chunk_windows(spark, sf_dir):
    """Sliding context-window chunking of the documents table
    (operators/corpus.py chunk_windows): 128-token windows at stride
    96 — one narrow explode, zero shuffle; the retrieval/pretraining
    chunking step ahead of per-chunk embedding.  Strings/ints only."""
    from ..operators.corpus import chunk_windows

    return chunk_windows(
        _docs_as_text(spark, sf_dir), "text", "doc_id",
        chunk_tokens=128, stride=96,
    )


def _chunk_sql() -> str:
    from ..operators.corpus import chunk_windows_sql

    return chunk_windows_sql("documents", "doc_id", "text", 128, 96)


def doc_setsim_pairs(spark, sf_dir):
    """Prefix-filtered set-similarity self-join (AllPairs/PPJoin) over
    the documents table at token-set jaccard >= 3/5 — the exact-recall
    sub-quadratic alternative to the estimator-based MinHash path
    (operators/dedup.py setsim_prefix_pairs; every filter is integer
    arithmetic on the rational threshold, so both engines agree
    bit-for-bit including at threshold boundaries)."""
    from ..operators.dedup import setsim_prefix_pairs

    return setsim_prefix_pairs(
        _docs_as_text(spark, sf_dir), "text", "doc_id",
        tau_num=3, tau_den=5,
    )


def _setsim_sql() -> str:
    from ..operators.dedup import setsim_prefix_sql

    return setsim_prefix_sql("documents", "doc_id", "text", 3, 5)


def doc_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table:
    k-means-cluster, connect within-cluster pairs at cosine >= 0.4,
    keep the min-id representative per duplicate group — (doc_id,
    bucket, keep).  The cluster assignment (seeded distributed k-means +
    argmax bucket, not SQL-expressible) is STAGED; everything downstream
    — within-cluster pairs, exact f64 cosine, connected components,
    keep-min — is replayed by the DuckDB twin from the same staged
    bytes (within-bucket self-join + recursive-CTE min-label CC).
    Output is strings/ints/bools only — bit-exact."""
    from ..operators.ccomp import canonical_mapping, connected_components
    from ..operators.dedup import (
        semantic_cluster_assign,
        semantic_dedup_pairs,
    )

    e = _t(spark, sf_dir, "embeddings")
    assigned = _stage(
        semantic_cluster_assign(e, "embedding", "vec_id", nlist=16),
        "semdedup_assign",
    )
    pairs = semantic_dedup_pairs(assigned, tau=0.4)
    comps = connected_components(pairs.select("src", "dst"))
    mapping = canonical_mapping(
        comps, assigned.select(F.col("_nid").alias("node"))
    )
    return (
        assigned.select(F.col("_nid").alias("doc_id"), "bucket")
        .join(mapping, F.col("doc_id") == F.col("node"))
        .select(
            "doc_id", "bucket",
            (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _semdedup_sql() -> str:
    rel = _staged_sql("semdedup_assign")
    return f"""
WITH RECURSIVE
asg AS (SELECT _nid AS id, bucket, CAST(_emb AS DOUBLE[]) AS e
        FROM {rel}),
p AS (
  SELECT a.id AS src, b.id AS dst
  FROM asg a JOIN asg b ON a.bucket = b.bucket AND a.id < b.id
  WHERE list_dot_product(a.e, b.e) >= CAST(0.4 AS DOUBLE)),
sym AS (SELECT src AS a, dst AS b FROM p UNION SELECT dst, src FROM p),
reach(node, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a),
comp AS (
  SELECT node,
         CASE WHEN MIN(r) < node THEN MIN(r) ELSE node END AS cid
  FROM reach GROUP BY node)
SELECT asg.id AS doc_id, asg.bucket,
       (COALESCE(c.cid, asg.id) = asg.id) AS keep
FROM asg LEFT JOIN comp c ON c.node = asg.id
ORDER BY doc_id
"""


def knn_ivf_exhaustive(spark, sf_dir):
    """Same oracle as knn_bruteforce_cosine, different physical strategy:
    the broadcast IVF search at nprobe=nlist (exact).  Two engines, two
    Spark strategies, one answer."""
    import numpy as np

    from ..operators.ann import train_centroids
    from ..operators.fused import encode_and_link

    e = _t(spark, sf_dir, "embeddings")
    cand_pdf = e.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").cast("string").alias("entity_id"), "embedding"
    ).toPandas()
    emat = np.stack(cand_pdf["embedding"].to_numpy())
    norms = np.linalg.norm(emat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cand_pdf = cand_pdf.assign(
        embedding=list((emat / norms).astype(np.float32))
    )
    # entity_id sorts lexicographically: zero-pad so the numeric tiebreak
    # survives the string sort
    cand_pdf["entity_id"] = cand_pdf["entity_id"].str.zfill(8)
    centroids = train_centroids(emat / norms, nlist=16, seed=42)
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x.cast("double"),
        )
    )
    probes = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"),
        F.transform(
            "embedding",
            lambda x: (x / F.when(nrm < 1e-9, F.lit(1.0)).otherwise(nrm))
            .cast("float"),
        ).alias("embedding"),
    )
    links = encode_and_link(
        probes, cand_pdf, centroids, PipelineConfig(k=5, tau=-1.0), nprobe=16
    )
    return links.select(
        "probe_id",
        F.col("entity_id").cast("long").alias("vec_id"),
        F.round("score", 4).alias("cos_sim"),
    )


def knn_pq_rescore(spark, sf_dir):
    """PQ preselect + exact rescore, driven exhaustive (kc = E): the
    candidate join + rescore machinery must reproduce the exact top-5 by
    raw inner product — same result family as knn_*, different physical
    strategy (codes broadcast, full vectors never leave the entity
    table).  Approximate-kc quality is P/R-gated in tests/test_pq.py."""
    from ..operators.pq import link_pq, train_pq

    e = _t(spark, sf_dir, "embeddings")
    cand_pdf = e.filter(F.col("vec_id") >= 8).select(
        F.lpad(F.col("vec_id").cast("string"), 8, "0").alias("entity_id"),
        "embedding",
    ).toPandas()
    import numpy as np

    emat = np.stack(cand_pdf["embedding"].to_numpy())
    books = train_pq(emat, m_subspaces=8)
    probes = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    # Python floats, not numpy cells: Arrow-on toPandas() hands back
    # numpy arrays, and an Arrow-less session's row verifier rejects
    # numpy.float32 — normalize so both session configs convert.
    entities = spark.createDataFrame(
        [
            (str(i), [float(x) for x in v])
            for i, v in zip(cand_pdf["entity_id"], cand_pdf["embedding"])
        ],
        "entity_id string, embedding array<float>",
    )
    links = link_pq(
        probes, entities, cand_pdf, books,
        k=5, tau=-1e9, kc=len(cand_pdf),
        mention_keys=("probe_id",), carry_cols=(),
    )
    return links.select(
        "probe_id",
        F.col("entity_id").cast("long").alias("vec_id"),
        F.round("score", 4).alias("dot"),
    )


KNN_DOT_SQL = """
SELECT probe_id, vec_id, ROUND(dot, 4) AS dot FROM (
  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
         list_dot_product(CAST(p.embedding AS DOUBLE[]),
                          CAST(c.embedding AS DOUBLE[])) AS dot,
         ROW_NUMBER() OVER (
            PARTITION BY p.vec_id
            ORDER BY list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) DESC,
                     c.vec_id ASC) AS rn
  FROM (SELECT * FROM embeddings WHERE vec_id < 8) p,
       (SELECT * FROM embeddings WHERE vec_id >= 8) c)
WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# json / grouping sets / range join
# ---------------------------------------------------------------------------

def events_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


JSON_SQL = """
SELECT event_type,
       ROUND(AVG(CAST(props->>'$.k' AS INT)), 4) AS avg_k,
       MAX(CAST(props->>'$.k' AS INT)) AS max_k
FROM events GROUP BY event_type
"""


def cube_orders_status_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(_dec("o_totalprice")), 3).cast("double")
        .alias("sum_price"),
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 3) AS DOUBLE)
         AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def range_join_ship_lag(spark, sf_dir):
    """Equi+range theta join: lineitems shipped within 90 days of their
    order date, bucketed by lag week."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") <= F.date_add(F.col("o_orderdate"), 90))
    )
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return j.groupBy(F.floor(lag_days / 7).alias("lag_week")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(_dec("l_extendedprice")), 3).cast("double")
        .alias("sum_price"),
    )


RANGE_JOIN_SQL = """
SELECT CAST(FLOOR(date_diff('day', o_orderdate, l_shipdate) / 7) AS BIGINT)
         AS lag_week,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 3) AS DOUBLE)
         AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate
  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# multimodal (synthesized media; rows-only — binary fixtures, no SQL twin)
# ---------------------------------------------------------------------------

def media_decode_stats(spark, sf_dir):
    """Decode-pass stats over STAGED raw media bytes: the DuckDB twin
    parses the same fake-codec header (magic + <iii4s> struct) from the
    staged BLOBs via hex slicing — an engine-independent check of the
    decode/quarantine parsing itself, not just the aggregation."""
    from ..multimodal.media import decode_media, make_media_df

    media = _stage(
        make_media_df(spark, n_media=60).select(
            "media_id", "kind", "content"
        ),
        "media_raw",
    )
    dec = decode_media(media)
    return dec.groupBy("format", "skip_reason").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("payload_bytes"), 2).alias("avg_bytes"),
    )


def _media_decode_sql() -> str:
    # header layout (multimodal/media.py synth_media_bytes): 10-byte magic
    # 'FAKEMEDIA1' + struct '<iii4s' (width, height, n_frames, fmt);
    # fmt = bytes 23..26 -> hex chars 45..52.  decode failure = short blob
    # or magic mismatch (the quarantine predicate of _fake_decode).
    return f"""
SELECT format, skip_reason, COUNT(*) AS n,
       ROUND(AVG(payload_bytes), 2) AS avg_bytes
FROM (
  SELECT CASE WHEN octet_length(content) >= 26
                   AND substring(hex(content), 1, 20)
                       = hex('FAKEMEDIA1'::BLOB)
              THEN rtrim(decode(from_hex(substring(hex(content), 45, 8))),
                         chr(0)) END AS format,
         CASE WHEN octet_length(content) >= 26
                   AND substring(hex(content), 1, 20)
                       = hex('FAKEMEDIA1'::BLOB)
              THEN NULL ELSE 'decode_error' END AS skip_reason,
         octet_length(content) AS payload_bytes
  FROM {_staged_sql('media_raw')})
GROUP BY format, skip_reason
"""


def media_frame_plan(spark, sf_dir):
    """Video frame-sampling plan from STAGED decoded rows: the DuckDB
    twin re-derives the sampled frame sequence with range()."""
    from ..multimodal.media import (
        decode_media,
        frame_sample_plan,
        make_media_df,
    )

    media = make_media_df(spark, n_media=60)
    dec = _stage(decode_media(media), "media_decoded")
    return frame_sample_plan(dec, every_n=24)


def _media_frame_sql() -> str:
    return f"""
SELECT media_id, CAST(u.f AS INT) AS frame_idx
FROM {_staged_sql('media_decoded')},
     UNNEST(range(0, CAST(n_frames AS BIGINT), 24)) AS u(f)
WHERE kind = 'video' AND skip_reason IS NULL AND n_frames >= 1
"""


# ---------------------------------------------------------------------------
# KG pipeline entries.  The encoder is a UDF, so the oracle strategy is
# STAGING: the Spark query persists the deterministic intermediates
# (mention embeddings + probe cells, entity cells, triples, CC edges) to
# parquet and derives its result from the staged bytes; the DuckDB twin
# expresses the REST of the pipeline (masked top-1 cosine linking, skip
# predicate, recursive-CTE connected components) in SQL over the same
# bytes.  kg_span_roundtrip stays rows-only (it is itself an invariant).
# ---------------------------------------------------------------------------

def _kg_corpus(spark):
    from ..fixtures.generate import corpus, documents_to_spark

    docs_pdf, ents_pdf = corpus(n_docs=300, n_entities=150)
    return documents_to_spark(spark, docs_pdf), docs_pdf, ents_pdf


def _kg_mentions(spark, cfg):
    """(mentions, skips, ents_pdf, docs): the mentions and skips of the
    fused pass ``run_pipeline`` writes (``plan_kg``), without part_id."""
    import numpy as np

    from ..operators.ann import train_centroids
    from .pipeline import plan_kg

    docs, _, ents_pdf = _kg_corpus(spark)
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), seed=cfg.seed
    )
    plan = plan_kg(docs, ents_pdf, centroids, cfg, embeddings=True)
    return plan.mentions.drop("part_id"), plan.skips.drop("part_id"), \
        ents_pdf, docs


_KG_TRIPLE_SELECT = """
SELECT doc_id AS subj,
       CASE WHEN kind = 'text' THEN 'mentions' ELSE 'depicts' END AS pred,
       entity_id AS obj,
       ROUND(score, 4) AS score,
       span_idx
FROM ranked WHERE rn = 1 AND score >= 0.4
"""


def curate_training_corpus(spark, sf_dir):
    """End-to-end curation over the driver documents table: quality floor
    + exact dedup + MinHash near-dup dedup; returns per-stage survivor
    counts (the data-loss audit).  The near-dup PAIRS are staged, so the
    DuckDB twin replays every stage in SQL — quality expression, distinct
    normalized text, and connected-components keep-min over the same
    pairs — and must land on the same five counts."""
    from .curate import curate

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    _, counts, pairs = curate(
        d, min_quality=0.2, jaccard_threshold=0.5, return_pairs=True
    )
    _stage(pairs.select("src", "dst"), "curate_pairs")
    pairs.signature_cache.unpersist()
    rows = [(k, v) for k, v in counts.items()]
    return spark.createDataFrame(rows, "stage string, n_rows long")


def _curate_sql() -> str:
    return f"""
WITH RECURSIVE
q AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
  WHERE {_QUALITY_Q_EXPR} >= 0.2),
ex AS (
  SELECT MIN(id) AS id
  FROM q GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
ed AS (SELECT * FROM {_staged_sql('curate_pairs')}),
sym AS (SELECT src AS a, dst AS b FROM ed
        UNION SELECT dst, src FROM ed),
reach(node, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a),
comp AS (
  SELECT node,
         CASE WHEN MIN(r) < node THEN MIN(r) ELSE node END AS cid
  FROM reach GROUP BY node)
SELECT 'input' AS stage, COUNT(*) AS n_rows FROM documents
UNION ALL SELECT 'quality_pass', COUNT(*) FROM q
UNION ALL SELECT 'lang_pass', COUNT(*) FROM q
UNION ALL SELECT 'exact_unique', COUNT(*) FROM ex
UNION ALL SELECT 'neardup_unique',
  (SELECT COUNT(*) FROM ex)
  - (SELECT COUNT(*) FROM comp WHERE cid <> node)
"""


def kg_triples_exact(spark, sf_dir):
    """Exact rank-1 linking from STAGED mention embeddings + entities —
    the IVF broadcast search at nprobe = nlist, which is exact f64; the
    DuckDB twin re-derives the same triples with window SQL."""
    import numpy as np

    from ..fixtures.generate import entities_to_spark
    from ..operators.ann import train_centroids
    from ..operators.fused import encode_and_link
    from .pipeline import triples_from_links

    cfg = PipelineConfig()
    mentions, _, ents_pdf, _ = _kg_mentions(spark, cfg)
    staged_m = _stage(mentions, "kg_mentions")
    staged_e = _stage(
        entities_to_spark(spark, ents_pdf).select("entity_id", "embedding"),
        "kg_entities",
    )
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), seed=cfg.seed
    )
    links = encode_and_link(
        staged_m, ents_pdf, centroids, replace(cfg, tau=-1.0),
        nprobe=len(centroids),
    )
    rescored = _seqdot_rescore(links, staged_m, staged_e, cfg.tau)
    return triples_from_links(rescored).select(
        "subj", "pred", "obj", F.round("score", 4).alias("score"), "span_idx"
    )


def _seqdot_rescore(links, staged_m, staged_e, tau):
    """Replace the BLAS GEMM score on selected links with the sequential
    array-fold dot (cosine_expr) over the STAGED embeddings: NumPy's
    pairwise-summed dot and DuckDB's list_dot_product disagree in the
    last ulp often enough to flip ROUND(score, 4) on .xxx45 boundaries,
    while Spark's aggregate() fold accumulates in the same element order
    DuckDB does (bit-compatibility already evidenced by the green
    knn_* entries).  Selection stays GEMM (rank flips would need two
    entities within 1e-12 cosine — distinct embeddings never are)."""
    m_emb = staged_m.select(
        "doc_id", "span_idx", F.col("embedding").alias("_me")
    )
    e_emb = staged_e.select("entity_id", F.col("embedding").alias("_ee"))
    return (
        links.drop("score")
        .join(m_emb, ["doc_id", "span_idx"])
        .join(e_emb, "entity_id")
        .withColumn("score", cosine_expr("_me", "_ee"))
        .drop("_me", "_ee")
        .filter(F.col("score") >= tau)
    )


KG_EXACT_SQL = f"""
WITH m AS (SELECT * FROM {_staged_sql('kg_mentions')}),
     e AS (SELECT * FROM {_staged_sql('kg_entities')}),
scored AS (
  -- CAST to DOUBLE[]: DuckDB's list_dot_product accumulates in float32
  -- on FLOAT[] inputs; f64 sequential matches Spark's aggregate() fold
  SELECT m.doc_id, m.span_idx, m.kind, e.entity_id,
         list_dot_product(CAST(m.embedding AS DOUBLE[]),
                          CAST(e.embedding AS DOUBLE[])) AS score
  FROM m, e),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, span_idx
              ORDER BY score DESC, entity_id ASC) AS rn
  FROM scored)
{_KG_TRIPLE_SELECT}
"""


def kg_span_roundtrip(spark, sf_dir):
    """Span-sequence invariant as a query: docs whose reassembled span
    sequence differs from the input (must be empty — returns count=0
    row).  Original and rebuilt span frames are STAGED, so the DuckDB
    twin re-runs the same full-outer comparison over the same nested
    bytes instead of trusting Spark's verdict."""
    from .pipeline import explode_spans, reassemble_spans

    docs, _, _ = _kg_corpus(spark)
    rebuilt = _stage(
        reassemble_spans(explode_spans(docs)), "kg_spans_rebuilt"
    )
    orig = _stage(
        docs.filter(F.size("spans") > 0).select("doc_id", "spans"),
        "kg_spans_orig",
    )
    joined = orig.alias("a").join(rebuilt.alias("b"), "doc_id", "full_outer")
    mismatches = joined.filter(
        ~(F.col("a.spans") == F.col("b.spans"))
        | F.col("a.spans").isNull()
        | F.col("b.spans").isNull()
    )
    return mismatches.agg(F.count(F.lit(1)).alias("n_mismatched_docs"))


def _kg_span_sql() -> str:
    return f"""
SELECT COUNT(*) AS n_mismatched_docs
FROM {_staged_sql('kg_spans_orig')} a
FULL OUTER JOIN {_staged_sql('kg_spans_rebuilt')} b USING (doc_id)
WHERE a.spans IS DISTINCT FROM b.spans
"""


def kg_skips_quarantine(spark, sf_dir):
    """Quarantined spans (build-index.py:53-61 semantics): stage the
    exploded spans; the oracle re-derives the skip set from the content
    predicate the encoder fails on."""
    from .pipeline import explode_spans

    cfg = PipelineConfig()
    docs, _, _ = _kg_corpus(spark)
    spans = explode_spans(docs).select(
        "doc_id", "span_idx", "kind", "media_ref",
        F.when(F.col("kind") == "text", F.col("text"))
        .otherwise(F.col("media_ref")).alias("content"),
    )
    _stage(spans, "kg_spans")
    _, skips, _, _ = _kg_mentions(spark, cfg)
    return skips


KG_SKIPS_SQL = f"""
SELECT doc_id, span_idx, kind, media_ref, 'decode_error' AS reason
FROM {_staged_sql('kg_spans')}
WHERE content LIKE '%CORRUPT%'
"""


def _kg_ann_staged(spark, cfg, nprobe=32, nlist=100):
    """Shared staging for the IVF-linking entries (kg_triples_ann,
    kg_ann_recall): mention probe cells + entity cell assignments at the
    reference's nlist/nprobe, staged under deterministic names so either
    entry's oracle can replay the probe-masked search from the same
    bytes.  Returns (staged_mentions, staged_entities, ents_pdf,
    centroids)."""
    import numpy as np

    from ..operators.ann import add_probes, train_centroids
    from ..operators.link import _entity_arrays

    mentions, _, ents_pdf, _ = _kg_mentions(spark, cfg)
    eids, emat = _entity_arrays(ents_pdf)
    centroids = train_centroids(emat, nlist=nlist, seed=cfg.seed)
    staged_m = _stage(
        add_probes(mentions, centroids, nprobe=nprobe), "kg_mentions_probes"
    )
    assign = np.argmax(emat @ centroids.T, axis=1)
    # Python-native cells ONLY: Arrow-less sessions (the external driver's)
    # take createDataFrame's row-verifier path, which rejects numpy scalars
    # (`FloatType() can not accept numpy.float32`) — .tolist() emits Python
    # floats/ints so the conversion is session-config-independent.
    cell_rows = [
        (str(eids[i]), emat[i].astype(np.float32).tolist(), int(assign[i]))
        for i in range(len(eids))
    ]
    staged_e = _stage(
        spark.createDataFrame(
            cell_rows, "entity_id string, embedding array<float>, cell int"
        ),
        "kg_entities_cells",
    )
    return staged_m, staged_e, ents_pdf, centroids


def kg_triples_ann(spark, sf_dir):
    """IVF linking at the reference's nlist=100/nprobe=32: mention probe
    cells and entity cell assignments are staged, and the oracle replays
    the probe-masked exact top-1 in SQL — checking that nprobe pruning
    changes results exactly the way the IVF contract says it should."""
    from ..operators.fused import encode_and_link
    from .pipeline import triples_from_links

    cfg = PipelineConfig()
    staged_m, staged_e, ents_pdf, centroids = _kg_ann_staged(spark, cfg)
    links = encode_and_link(
        staged_m.drop("probes"), ents_pdf, centroids,
        replace(cfg, tau=-1.0), nprobe=32,
    )
    rescored = _seqdot_rescore(
        links, staged_m.drop("probes"), staged_e, cfg.tau
    )
    return triples_from_links(rescored).select(
        "subj", "pred", "obj", F.round("score", 4).alias("score"), "span_idx"
    )


KG_ANN_SQL = f"""
WITH m AS (SELECT * FROM {_staged_sql('kg_mentions_probes')}),
     e AS (SELECT * FROM {_staged_sql('kg_entities_cells')}),
scored AS (
  SELECT m.doc_id, m.span_idx, m.kind, e.entity_id,
         list_dot_product(CAST(m.embedding AS DOUBLE[]),
                          CAST(e.embedding AS DOUBLE[])) AS score
  FROM m JOIN e ON list_contains(m.probes, e.cell)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, span_idx
              ORDER BY score DESC, entity_id ASC) AS rn
  FROM scored)
{_KG_TRIPLE_SELECT}
"""


def kg_ann_recall(spark, sf_dir):
    """The BASELINE headline metric (triple P/R >= 0.95 vs the exact
    oracle at the reference's nlist=100/nprobe=32 — query-index.py:30,111)
    as a DRIVER-AUDITED number: link the staged mentions at nprobe<nlist
    (the pruned production search) AND at nprobe=nlist (exhaustive ==
    exact), count rank-1 agreement and above-tau emission, and emit the
    precision/recall as micro-unit integers.  The oracle re-derives BOTH
    searches from the staged probe cells + entity cells (the KG_ANN_SQL
    device), so the P/R number in CORRECTNESS_r{{N}}.json is computed
    independently by two engines from the same bytes — not self-reported.

    Integer outputs only: p/r_times_1e6 = (10^6 * correct) div emitted —
    bit-exact, no float hash risk.  Scores for the tau threshold use the
    sequential-fold dot (_seqdot_rescore) both engines agree on."""
    from ..operators.fused import encode_and_link

    cfg = PipelineConfig()
    staged_m, staged_e, ents_pdf, centroids = _kg_ann_staged(spark, cfg)
    m = staged_m.drop("probes")

    def top1(nprobe):
        links = encode_and_link(
            m, ents_pdf, centroids, PipelineConfig(k=1, tau=-1.0), nprobe
        )
        return _seqdot_rescore(links, m, staged_e, tau=-1.0).select(
            "doc_id", "span_idx", "entity_id", "score"
        )

    pruned = top1(32)
    exact = top1(len(centroids))  # nprobe = nlist: exhaustive == exact
    joined = pruned.alias("p").join(
        exact.alias("x"), ["doc_id", "span_idx"]
    ).select(
        (F.col("p.entity_id") == F.col("x.entity_id")).alias("agree"),
        (F.col("p.score") >= cfg.tau).alias("p_emit"),
        (F.col("x.score") >= cfg.tau).alias("x_emit"),
    )
    c = joined.agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum(F.col("agree").cast("long")).alias("n_rank1_agree"),
        F.sum(F.col("p_emit").cast("long")).alias("n_emitted"),
        F.sum(F.col("x_emit").cast("long")).alias("n_exact_emitted"),
        F.sum((F.col("agree") & F.col("p_emit")).cast("long")).alias(
            "n_correct"
        ),
    )
    return c.select(
        "n_mentions", "n_rank1_agree", "n_emitted", "n_exact_emitted",
        "n_correct",
        F.expr("(1000000 * n_correct) div n_emitted").alias("p_times_1e6"),
        F.expr("(1000000 * n_correct) div n_exact_emitted").alias(
            "r_times_1e6"
        ),
    )


KG_ANN_RECALL_SQL = f"""
WITH m AS (SELECT * FROM {_staged_sql('kg_mentions_probes')}),
     e AS (SELECT * FROM {_staged_sql('kg_entities_cells')}),
scored AS (
  SELECT m.doc_id, m.span_idx, e.entity_id, e.cell, m.probes,
         list_dot_product(CAST(m.embedding AS DOUBLE[]),
                          CAST(e.embedding AS DOUBLE[])) AS score
  FROM m, e),
pruned AS (
  SELECT doc_id, span_idx, entity_id, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, span_idx
                ORDER BY score DESC, entity_id ASC) AS rn
    FROM scored WHERE list_contains(probes, cell))
  WHERE rn = 1),
exact AS (
  SELECT doc_id, span_idx, entity_id, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, span_idx
                ORDER BY score DESC, entity_id ASC) AS rn
    FROM scored)
  WHERE rn = 1),
counts AS (
  SELECT COUNT(*) AS n_mentions,
         CAST(SUM(CASE WHEN p.entity_id = x.entity_id
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_rank1_agree,
         CAST(SUM(CASE WHEN p.score >= 0.4
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_emitted,
         CAST(SUM(CASE WHEN x.score >= 0.4
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_emitted,
         CAST(SUM(CASE WHEN p.entity_id = x.entity_id AND p.score >= 0.4
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM pruned p JOIN exact x USING (doc_id, span_idx))
SELECT n_mentions, n_rank1_agree, n_emitted, n_exact_emitted, n_correct,
       (1000000 * n_correct) // n_emitted AS p_times_1e6,
       (1000000 * n_correct) // n_exact_emitted AS r_times_1e6
FROM counts
"""


def kg_pagerank_tol(spark, sf_dir):
    """Tolerance-terminated PageRank as a driver entry: the tol loop
    (operators/graph.py pagerank_fixed_point tol_fp path) runs to the
    EXACT integer fixed point (tol_fp=0) under a cap of 8, and emits
    (node, rank_fp, iterations_run, final_delta_fp).  On the KG's
    doc->entity graph the fixed point is reached at iteration 3 (docs
    have no in-edges, so contributions freeze after two updates) — the
    early exit genuinely fires, iterations_run < cap, and the DuckDB
    twin re-derives the stop iteration from the unrolled per-level
    deltas instead of being told it (pagerank_tol_sql)."""
    from ..operators.graph import pagerank_fixed_point

    edges = _kg_edges(spark, sf_dir)
    stats: dict = {}
    r = pagerank_fixed_point(edges, iterations=8, tol_fp=0, stats=stats)
    out = _stage(
        r.select(
            "node",
            "rank_fp",
            F.lit(int(stats["iterations"])).cast("int").alias(
                "iterations_run"
            ),
            F.lit(int(stats["final_delta_fp"])).cast("long").alias(
                "final_delta_fp"
            ),
        ),
        "kg_pr_tol_ranks",
    )
    r.pagerank_cache.unpersist()
    return out


def _kg_pagerank_tol_sql() -> str:
    from ..operators.graph import pagerank_tol_sql

    return pagerank_tol_sql(
        _staged_sql("kg_graph_edges"), max_iterations=8, tol_fp=0
    )


def knn_incremental_index(spark, sf_dir):
    """Incremental index maintenance end-to-end (operators/ann.py
    index_append): build a base IVF store, append a delta batch against
    the FROZEN centroids (idempotent dynamic-partition publish), then
    search base ∪ delta at nprobe=nlist — which must equal the exact
    brute-force top-k over ALL vectors, appended ones included.  The
    oracle replays the brute-force search from the staged entity/query
    embeddings; agreement proves the delta is both searchable and
    complete (a dropped or duplicated delta partition flips rows).
    Queries are the driver's embeddings table; entity vectors are the
    deterministic pseudo-encoder family."""
    import shutil

    import numpy as np

    from ..fixtures.generate import make_entities
    from ..operators.ann import (
        index_append,
        load_index_df,
        save_index,
        train_centroids,
    )
    from ..operators.fused import encode_and_link

    ents = make_entities(240)
    base_pdf, new_pdf = ents.iloc[:180], ents.iloc[180:]
    centroids = train_centroids(
        np.stack(base_pdf["embedding"].to_numpy()), nlist=16, seed=42
    )
    store_dir = f"{_STAGE_DIR}/knn_inc_store"
    shutil.rmtree(store_dir, ignore_errors=True)  # deterministic rebuild
    save_index(spark, store_dir, base_pdf, centroids)
    new_df = spark.createDataFrame(
        [
            (str(i), [float(x) for x in v])
            for i, v in zip(new_pdf["entity_id"], new_pdf["embedding"])
        ],
        "entity_id string, embedding array<float>",
    )
    index_append(spark, store_dir, new_df, batch_id=1)
    live, cents = load_index_df(spark, store_dir)
    staged_ents = _stage(
        live.orderBy("entity_id"), "knn_inc_entities"
    )
    q = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    queries = _stage(
        q.select(F.col("vec_id").alias("probe_id"), "embedding"),
        "knn_inc_queries",
    )
    links = encode_and_link(queries, staged_ents.toPandas(), cents,
                            PipelineConfig(k=5, tau=-1e9), nprobe=16)
    # sequential-fold rescore (the _seqdot_rescore device): GEMM selects,
    # the engine-agreed dot scores — rank itself is not emitted (the
    # knn_ivf_exhaustive precedent: membership + score are the contract)
    rescored = (
        links.drop("score")
        .join(
            staged_ents.select("entity_id", F.col("embedding").alias("_ee")),
            "entity_id",
        )
        .join(
            queries.select(
                "probe_id", F.col("embedding").alias("_qe")
            ),
            "probe_id",
        )
        .withColumn("score", cosine_expr("_qe", "_ee"))
    )
    return rescored.select(
        "probe_id", "entity_id", F.round("score", 4).alias("score")
    )


KNN_INC_SQL = f"""
SELECT probe_id, entity_id, ROUND(score, 4) AS score FROM (
  SELECT q.probe_id, e.entity_id,
         list_dot_product(CAST(q.embedding AS DOUBLE[]),
                          CAST(e.embedding AS DOUBLE[])) AS score,
         ROW_NUMBER() OVER (PARTITION BY q.probe_id
                            ORDER BY list_dot_product(
                                CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) DESC,
                            e.entity_id ASC) AS rn
  FROM {_staged_sql('knn_inc_queries')} q,
       {_staged_sql('knn_inc_entities')} e)
WHERE rn <= 5
"""


def kg_canonical_triples(spark, sf_dir):
    """Full pipeline: ANN link + CC canonicalization (subj = canonical
    id), read off ``canonicalize``'s own mapping.  Its triples and
    near-dup edges are staged for the oracle: DuckDB runs a
    recursive-CTE min-label reachability over the staged edges, and
    must agree with the large-star/small-star components on every
    canonical id."""
    import numpy as np

    from ..operators.ann import train_centroids
    from .pipeline import canonicalize, plan_kg

    docs, _, ents_pdf = _kg_corpus(spark)
    cfg = PipelineConfig()
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), seed=cfg.seed)
    plan = plan_kg(docs, ents_pdf, centroids, cfg, embeddings=True)
    canon = canonicalize(plan, cfg)
    cols = ["subj", "pred", "obj", F.round("score", 4).alias("score"),
            "span_idx"]
    _stage(plan.triples.select(*cols), "kg_cc_triples")
    _stage(canon.edges, "kg_cc_edges")
    # materialized before the fused pass it reads is released
    out = canon.canonical_triples.select(*cols).localCheckpoint()
    canon.cache.unpersist()
    return out


KG_CANONICAL_SQL = f"""
WITH RECURSIVE
t AS (SELECT * FROM {_staged_sql('kg_cc_triples')}),
ed AS (SELECT * FROM {_staged_sql('kg_cc_edges')}),
sym AS (SELECT src AS a, dst AS b FROM ed
        UNION SELECT dst, src FROM ed),
reach(node, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a),
comp AS (
  SELECT node,
         CASE WHEN MIN(r) < node THEN MIN(r) ELSE node END AS cid
  FROM reach GROUP BY node)
SELECT COALESCE(c.cid, t.subj || '#' || CAST(t.span_idx AS VARCHAR)) AS subj,
       t.pred, t.obj, t.score, t.span_idx
FROM t LEFT JOIN comp c
  ON c.node = t.subj || '#' || CAST(t.span_idx AS VARCHAR)
"""


def doc_repetition_stats(spark, sf_dir):
    """Gopher-family repetition quality metrics per document (word
    n-gram adaptation): top-word / top-bigram frequency fractions and
    the duplicate-trigram occurrence fraction — the boilerplate filter a
    pretraining curation pass applies before dedup."""
    from ..operators.corpus import repetition_stats

    return repetition_stats(_docs_as_text(spark, sf_dir), "text", "doc_id")


REPETITION_SQL = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split(text, ' ') AS t
  FROM documents),
gl AS (
  SELECT doc_id, t AS g1,
         list_transform(generate_series(1, greatest(len(t)-1, 0)),
                        i -> array_to_string(t[i:i+1], ' ')) AS g2,
         list_transform(generate_series(1, greatest(len(t)-2, 0)),
                        i -> array_to_string(t[i:i+2], ' ')) AS g3
  FROM toks),
g AS (
  SELECT doc_id, 1 AS n, unnest(g1) AS g FROM gl
  UNION ALL SELECT doc_id, 2, unnest(g2) FROM gl
  UNION ALL SELECT doc_id, 3, unnest(g3) FROM gl),
c AS (SELECT doc_id, n, g, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
p AS (
  SELECT doc_id, n,
         CAST(SUM(cnt) AS BIGINT) AS total,
         MAX(cnt) AS maxc,
         CAST(COALESCE(SUM(CASE WHEN cnt >= 2 THEN cnt END), 0)
              AS BIGINT) AS dupc
  FROM c GROUP BY 1, 2)
SELECT doc_id,
       MAX(CASE WHEN n = 1 THEN total END) AS n_tokens,
       CAST(MAX(CASE WHEN n = 1 THEN maxc END) AS DOUBLE)
         / MAX(CASE WHEN n = 1 THEN total END) AS top_word_frac,
       CAST(MAX(CASE WHEN n = 2 THEN maxc END) AS DOUBLE)
         / MAX(CASE WHEN n = 2 THEN total END) AS top_bigram_frac,
       CAST(MAX(CASE WHEN n = 3 THEN dupc END) AS DOUBLE)
         / MAX(CASE WHEN n = 3 THEN total END) AS dup_trigram_frac
FROM p GROUP BY doc_id
"""


def corpus_split_stats(spark, sf_dir):
    """Deterministic md5-prefix train/val split accounting: the
    content-stable assignment any engine can recompute (leak-free eval
    sets across pipeline versions and re-runs)."""
    from ..operators.corpus import deterministic_split

    return deterministic_split(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )


SPLIT_SQL = """
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
            THEN 'train' ELSE 'val' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars
FROM documents GROUP BY 1
"""


_MIX_RATES = {"src0": 0.25, "src1": 0.5, "src2": 0.75}


def corpus_mix_stats(spark, sf_dir):
    """Weighted corpus mixing (domain reweighting): deterministic
    md5-threshold Bernoulli keep per source, exact same membership on
    any engine — per-source accounting of the sampled mixture."""
    from ..operators.corpus import mix_sample_stats

    return mix_sample_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "source", "text",
        _MIX_RATES,
    )


def _mix_sql() -> str:
    from ..operators.corpus import _rate_to_hex

    keep = "CASE grp " + " ".join(
        f"WHEN '{g}' THEN h < '{_rate_to_hex(r)}'"
        for g, r in sorted(_MIX_RATES.items())
    ) + " ELSE TRUE END"
    return f"""
WITH base AS (
  SELECT source AS grp,
         len(string_split(text, ' ')) AS tok,
         substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
  FROM documents),
k AS (SELECT grp, tok, {keep} AS keep FROM base)
SELECT grp, COUNT(*) AS n_docs_in,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(COALESCE(SUM(CASE WHEN keep THEN tok END), 0) AS BIGINT)
         AS n_tokens_kept
FROM k GROUP BY grp
"""


def corpus_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing manifest: md5-sharded running-sum
    bin assignment (shard-local window — no global sort), the step that
    turns a ragged corpus into near-full training context windows."""
    from ..operators.corpus import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), "text", "doc_id", budget=512
    )


PACK_SQL = """
WITH base AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS tok,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents),
packed AS (
  SELECT shard, tok,
         CAST(FLOOR((SUM(tok) OVER (PARTITION BY shard ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - tok) / 512) AS BIGINT) AS bin
  FROM base)
SELECT shard, bin, COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       CAST(SUM(tok) AS BIGINT) / CAST(512 AS DOUBLE) AS fill_ratio
FROM packed GROUP BY 1, 2
"""


def doc_tfidf_keywords(spark, sf_dir):
    """Top-3 tf-idf keywords per document (log-free score = tf*N/df:
    one f64 division, no libm transcendental — hash-oracle-able; same
    per-doc ranking as log-idf)."""
    from ..operators.corpus import tfidf_keywords

    return tfidf_keywords(_docs_as_text(spark, sf_dir), "text", "doc_id")


TFIDF_SQL = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
s AS (
  SELECT doc_id, term, tf,
         CAST(tf * n.n AS DOUBLE) / df AS score,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY CAST(tf * n.n AS DOUBLE) / df DESC, term) AS rn
  FROM tf JOIN dfq USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, score FROM s WHERE rn <= 3
"""


def hll_distinct_orderkeys(spark, sf_dir):
    """Deterministic HyperLogLog distinct-orderkey estimate per return
    flag (operators/sketch.py), next to the exact count: register math
    is integer-exact over staged xxhash64 values and the estimate is one
    f64 division, so the DuckDB replay of the same staged hashes is
    bit-identical — estimate AND error are hash-checked.  (~11k distinct
    per flag at sf0.01: above the raw-HLL small-range regime, expected
    error ~3% at m=1024.  Production at 100 TB: Spark's built-in
    approx_count_distinct — same algorithm, JVM-private registers; this
    entry proves the sketch family is implemented and exact-checkable.)"""
    from ..operators.sketch import hll_from_hashes

    li = _t(spark, sf_dir, "lineitem")
    hashed = _stage(
        li.select(
            "l_returnflag", F.xxhash64("l_orderkey").alias("okhash")
        ),
        "hll_hashes",
    )
    est = hll_from_hashes(hashed, "okhash", ["l_returnflag"], log2m=10)
    exact = hashed.groupBy("l_returnflag").agg(
        F.countDistinct("okhash").alias("n_exact")
    )
    return est.join(exact, "l_returnflag")


def _hll_sql() -> str:
    from ..operators.sketch import hll_sql

    inner = hll_sql(
        _staged_sql("hll_hashes"), "okhash", ["l_returnflag"], log2m=10
    )
    return f"""
SELECT e.l_returnflag, e.hll_estimate, x.n_exact
FROM ({inner}) e
JOIN (SELECT l_returnflag, COUNT(DISTINCT okhash) AS n_exact
      FROM {_staged_sql('hll_hashes')} GROUP BY 1) x USING (l_returnflag)
"""


def histogram_quantiles_price(spark, sf_dir):
    """Approximate p50/p95 of extended price per return flag from a
    fixed-range equi-width histogram (operators/sketch.py): the
    integer-histogram quantile sketch — mergeable, groups×bins shuffle
    rows, error one bin width — with an identical interpolation
    expression tree on both engines (no t-digest float drift)."""
    from ..operators.sketch import histogram_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li, "l_extendedprice", ["l_returnflag"],
        qs=(0.5, 0.95), bins=256, lo=900.0, hi=105000.0,
    )


def _histq_sql() -> str:
    from ..operators.sketch import histogram_quantiles_sql

    return histogram_quantiles_sql(
        "lineitem", "l_extendedprice", ["l_returnflag"],
        qs=(0.5, 0.95), bins=256, lo=900.0, hi=105000.0,
    )


_CMS_DEPTH, _CMS_WIDTH = 4, 2048


def cms_heavy_tokens(spark, sf_dir):
    """Count-Min frequency sketch (operators/sketch.py) estimating the
    corpus counts of the exact top-15 tokens: (term, n_exact,
    cms_count).  The sketch shuffles <= depth*width integer counters
    regardless of corpus size and merges by addition; positions are
    staged so the DuckDB replay is bit-identical, and the exact counts
    recompute from the documents view on both engines (string_split
    parity per doc_token_stats).  Completes the mergeable-sketch family:
    HLL = cardinality, histogram = quantiles, CMS = frequency,
    Bloom = membership."""
    from ..operators.sketch import cms_estimate, cms_positions

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    corpus_pos = _stage(
        cms_positions(toks, "term", _CMS_DEPTH, _CMS_WIDTH).select(
            "_j", "_pos"
        ),
        "cms_corpus_pos",
    )
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("term").asc())
        .limit(15)
    )
    cand_pos = _stage(
        cms_positions(top, "term", _CMS_DEPTH, _CMS_WIDTH, out_key="term"),
        "cms_cand_pos",
    )
    est = cms_estimate(corpus_pos, cand_pos, key="term")
    return top.join(est, "term").select("term", "n_exact", "cms_count")


def _cms_sql() -> str:
    from ..operators.sketch import cms_sql

    inner = cms_sql(
        _staged_sql("cms_corpus_pos"), _staged_sql("cms_cand_pos"),
        key="term",
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
top AS (
  SELECT term, COUNT(*) AS n_exact FROM toks WHERE term <> ''
  GROUP BY term ORDER BY n_exact DESC, term ASC LIMIT 15)
SELECT top.term, top.n_exact, est.cms_count
FROM top JOIN ({inner}) est ON est.term = top.term
"""


def cms_join_size_orders(spark, sf_dir):
    """Sketch-based join-cardinality estimation: |orders ⋈ lineitem| on
    orderkey from two Count-Min sketches (operators/sketch.py
    cms_join_size — the inner-product estimator a cost-based planner
    consults before picking a 100 TB shuffle strategy).  Output: the
    estimate next to the exact join size; the estimate NEVER
    underestimates (CMS guarantee, hash-checked here cross-engine)."""
    from ..operators.sketch import cms_join_size, cms_positions

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    pa = _stage(
        cms_positions(o, "k", _CMS_DEPTH, _CMS_WIDTH).select("_j", "_pos"),
        "cmsj_orders_pos",
    )
    pb = _stage(
        cms_positions(li, "k", _CMS_DEPTH, _CMS_WIDTH).select("_j", "_pos"),
        "cmsj_lineitem_pos",
    )
    est = cms_join_size(pa, pb)
    exact = o.join(li, "k").agg(
        F.count(F.lit(1)).alias("join_size_exact")
    )
    return est.crossJoin(exact)


def _cms_join_sql() -> str:
    from ..operators.sketch import cms_join_size_sql

    inner = cms_join_size_sql(
        _staged_sql("cmsj_orders_pos"), _staged_sql("cmsj_lineitem_pos")
    )
    return f"""
SELECT e.join_size_est, x.join_size_exact
FROM ({inner}) e CROSS JOIN (
  SELECT COUNT(*) AS join_size_exact
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey) x
"""


_BLOOM_BITS, _BLOOM_HASHES = 2048, 3


def bloom_prune_orders(spark, sf_dir):
    """Bloom-filter semi-join pruning (operators/bloom.py): the bit set
    of EUROPE customers probes every order's custkey — the pre-shuffle
    reduction a 10^12-row probe side needs (reference parity: the
    skip-list / already-indexed anti-checks, build-index.py:26-35, are
    membership pruning).  One summary row hash-checks the whole
    contract: n_probe_keys, n_pass, n_member (exact), n_false_pos, and
    n_false_neg which the Bloom guarantee pins to 0.  Filter sized to a
    NONTRIVIAL false-positive rate (~5%) so the FP accounting is
    exercised, not vacuous."""
    from ..operators.bloom import bloom_bits, bloom_contains
    from ..operators.sketch import cms_positions

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    europe = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "EUROPE")
        .select("c_custkey")
    )
    bits = _stage(
        bloom_bits(europe, "c_custkey", _BLOOM_BITS, _BLOOM_HASHES),
        "bloom_bits",
    )
    probe_keys = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    # bloom positions use the same xxhash64(j, key) family as CMS —
    # stage them once for the DuckDB replay
    _stage(
        cms_positions(
            probe_keys, "k", _BLOOM_HASHES, _BLOOM_BITS, out_key="k"
        ),
        "bloom_probe_pos",
    )
    maybe = bloom_contains(
        probe_keys, "k", bits, _BLOOM_BITS, _BLOOM_HASHES
    )
    truth = europe.select(
        F.col("c_custkey").alias("k"), F.lit(1).alias("_is")
    )
    flags = maybe.join(F.broadcast(truth), "k", "left").select(
        "maybe_member", F.coalesce(F.col("_is"), F.lit(0)).alias("_is")
    )
    mm = F.col("maybe_member").cast("long")
    return flags.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum(mm).alias("n_pass"),
        F.sum("_is").alias("n_member"),
        F.sum(mm * (1 - F.col("_is"))).alias("n_false_pos"),
        F.sum((1 - mm) * F.col("_is")).alias("n_false_neg"),
    )


def _bloom_sql() -> str:
    from ..operators.bloom import bloom_contains_sql

    inner = bloom_contains_sql(
        _staged_sql("bloom_bits"), _staged_sql("bloom_probe_pos"),
        key="k", n_hashes=_BLOOM_HASHES,
    )
    return f"""
WITH europe AS (
  SELECT c_custkey AS k FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
flags AS (
  SELECT m.maybe_member,
         CASE WHEN e.k IS NULL THEN 0 ELSE 1 END AS is_m
  FROM ({inner}) m LEFT JOIN europe e ON e.k = m.k)
SELECT COUNT(*) AS n_probe_keys,
       CAST(SUM(CASE WHEN maybe_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       CAST(SUM(is_m) AS BIGINT) AS n_member,
       CAST(SUM(CASE WHEN maybe_member THEN 1 - is_m ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN maybe_member THEN 0 ELSE is_m END) AS BIGINT)
         AS n_false_neg
FROM flags
"""


def events_asof_join(spark, sf_dir):
    """As-of join (nearest prior event): every click joined to the
    user's latest purchase at or before the click.  Spark has no ASOF
    operator — this is the union-window implementation
    (operators/asof.py: one shuffle, zero Python, linear); the oracle is
    DuckDB's NATIVE `ASOF LEFT JOIN`, so the hash check proves the
    implementation reproduces the canonical semantics exactly,
    including same-timestamp inclusivity and unmatched-left NULLs."""
    from ..operators.asof import asof_join, dedup_right_latest

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = dedup_right_latest(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        ),
        ["user_id"], "ts", "event_id",
    )
    return asof_join(left, right, ["user_id"], "ts", ["event_id", "value"])


ASOF_SQL = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r0 AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1)
SELECT l.event_id, l.user_id, l.ts,
       r.event_id AS event_id_asof, r.value AS value_asof
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def corpus_sample_per_source(spark, sf_dir):
    """Deterministic uniform 5-per-source document sample (hash-priority
    top-k): the stable eval-set draw — same members on every engine and
    every re-run."""
    from ..operators.corpus import sample_k_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_k_per_group(d, "doc_id", "source", k=5)


SAMPLE_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents)
WHERE rn <= 5
"""


_KG_EDGES_MEMO: dict[tuple, "DataFrame"] = {}


def _kg_edges(spark, sf_dir):
    """Staged distinct (subj -> obj) edge list of the exact-linked
    triples, SHARED by the four graph entries (pagerank / personalized
    pagerank / khop / triangles): the triple pipeline — the most
    expensive plan in the suite — runs ONCE per session+scale instead
    of four times, and all four oracles read the same staged relation.
    Memo keyed by (applicationId, sf_dir): a new session or scale
    re-stages; re-staging is deterministic so a stale file is harmless."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _KG_EDGES_MEMO.get(key)
    if df is None:
        df = _stage(
            kg_triples_exact(spark, sf_dir)
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .distinct(),
            "kg_graph_edges",
        )
        # evict entries bound to OTHER applications: their DataFrames
        # reference stopped SparkSessions and would otherwise accumulate
        # for the process lifetime across bench/test session cycles
        for k in [k for k in _KG_EDGES_MEMO if k[0] != key[0]]:
            del _KG_EDGES_MEMO[k]
        _KG_EDGES_MEMO[key] = df
    return df


def kg_pagerank(spark, sf_dir):
    """Entity importance over the materialized triple graph: fixed-point
    integer PageRank (bit-exact across engines BY CONSTRUCTION — integer
    micro-units, no float summation order; see operators/graph.py) on
    the shared staged (subj -> obj) edges of the exact-linked triples.
    The result is staged (materialized) so the operator's persisted
    static inputs can be unpersisted before returning — no cache blocks
    pinned for the session (the `.pagerank_cache` convention)."""
    from ..operators.graph import pagerank_fixed_point

    edges = _kg_edges(spark, sf_dir)
    r = pagerank_fixed_point(edges)
    out = _stage(r, "kg_pr_ranks")
    r.pagerank_cache.unpersist()
    return out


def _kg_pagerank_sql() -> str:
    from ..operators.graph import pagerank_sql

    return pagerank_sql(_staged_sql("kg_graph_edges"))


def kg_khop_reach(spark, sf_dir):
    """Multi-hop KG traversal: (node, hops) for everything within 3
    directed hops of the 3 lexicographically-smallest subject entities
    — level-synchronous distributed BFS (operators/graph.py: per hop
    one frontier⋈edges shuffle + one anti-join, work |frontier⋈edges|
    not |graph|, checkpointed frontiers).  The "show me the
    neighborhood of this entity" query a KG exists to answer."""
    from ..operators.graph import khop_reachability

    edges = _kg_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node")).distinct()
        .orderBy("node").limit(3)
    )
    out = khop_reachability(edges, seeds, k=3)
    staged = _stage(out, "kg_khop_out")
    out.khop_cache.unpersist()
    return staged


def kg_communities(spark, sf_dir):
    """Community detection over the entity graph: 4 synchronous
    label-propagation rounds (operators/graph.py label_propagation —
    most-frequent neighbor label, ties to MINIMUM label; deterministic
    by construction) on the shared staged (subj -> obj) edges,
    undirected.  Returns the full (node, label) mapping — strings only,
    bit-exact; the DuckDB twin unrolls the same rounds as chained
    count/max/min-label CTEs over the same staged relation."""
    from ..operators.graph import label_propagation

    edges = _kg_edges(spark, sf_dir)
    out = label_propagation(edges, iterations=4)
    staged = _stage(out.orderBy("node"), "kg_lpa_out")
    out.lpa_cache.unpersist()
    return staged


def _kg_communities_sql() -> str:
    from ..operators.graph import lpa_sql

    return (
        lpa_sql(_staged_sql("kg_graph_edges"), iterations=4)
        + "\nORDER BY node"
    )


def kg_components(spark, sf_dir):
    """Weakly-connected-component census of the entity graph — the most
    basic KG health metric (one blob or many islands, and how big):
    connected components (operators/ccomp.py: a single-task union-find,
    star rounds above its cap) over the shared staged (subj -> obj)
    edges, undirected, aggregated
    to the (component_size, n_components) histogram.  Integer outputs
    only — bit-exact by construction.  The DuckDB twin replays a
    recursive-CTE min-label reachability over the SAME staged relation
    (the KG_CANONICAL_SQL device applied to the whole-graph census).
    Self-loop edges are excluded on both sides (the census is over the
    simple undirected graph; ccomp drops src == dst internally)."""
    from ..operators.ccomp import connected_components

    edges = _kg_edges(spark, sf_dir)
    comps = connected_components(edges)
    return (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).alias("component_size"))
        .groupBy("component_size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("component_size")
    )


def _kg_components_sql() -> str:
    rel = _staged_sql("kg_graph_edges")
    return f"""
WITH RECURSIVE
ed AS (SELECT src, dst FROM {rel} WHERE src <> dst),
sym AS (SELECT src AS a, dst AS b FROM ed
        UNION SELECT dst, src FROM ed),
reach(node, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a),
comp AS (
  SELECT node,
         CASE WHEN MIN(r) < node THEN MIN(r) ELSE node END AS cid
  FROM reach GROUP BY node),
sizes AS (SELECT cid, COUNT(*) AS component_size FROM comp GROUP BY cid)
SELECT CAST(component_size AS BIGINT) AS component_size,
       CAST(COUNT(*) AS BIGINT) AS n_components
FROM sizes GROUP BY component_size ORDER BY component_size
"""


_ZDIMS = [("l_extendedprice", 900.0, 105000.0), ("l_quantity", 1.0, 51.0)]
_ZBITS, _ZBUCKET_BITS = 8, 4


def zorder_skipping_stats(spark, sf_dir):
    """Z-order layout evidence (operators/layout.py): lineitem rows
    bucketed by the top bits of a Morton key interleaving price and
    quantity — per-bucket min/max of BOTH dims stay tight at once (the
    property a single-column sort cannot give), i.e. the file-skipping
    stats a z-sorted 100 TB table would prune scans with.  The key is
    pure int64 shifts over repr-literal grid bins: identical on any
    engine."""
    from ..operators.layout import layout_skipping_stats

    li = _t(spark, sf_dir, "lineitem")
    return layout_skipping_stats(
        li, _ZDIMS, bits_per_dim=_ZBITS, bucket_bits=_ZBUCKET_BITS
    )


def _zorder_sql() -> str:
    from ..operators.layout import zorder_sql_expr

    z = zorder_sql_expr(_ZDIMS, _ZBITS)
    shift = _ZBITS * len(_ZDIMS) - _ZBUCKET_BITS
    cols = ", ".join(
        f"MIN({c}) AS min_{c}, MAX({c}) AS max_{c}" for c, _, _ in _ZDIMS
    )
    return f"""
SELECT (({z}) >> {shift}) AS z_bucket, COUNT(*) AS n_rows, {cols}
FROM lineitem GROUP BY 1
"""


def dq_expectations(spark, sf_dir):
    """Data-quality gate over the orders/lineitem batch: per-row
    predicate rules in ONE scan each, key uniqueness, and two
    referential-integrity anti-joins — (rule, n_rows, n_violations),
    O(rules) output at any input size (operators/expectations.py; the
    reference's decode-or-skip discipline applied to tables).  The
    price-floor rule is sized to actually FIRE so the violation
    accounting is exercised, not vacuous."""
    from ..operators.expectations import (
        check_fk,
        check_rows,
        check_unique,
        expectations_report,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    parts = [
        check_rows(o, {
            "o_custkey_not_null": F.col("o_custkey").isNull(),
            "o_totalprice_floor": F.col("o_totalprice") < 5000.0,
        }),
        check_rows(li, {
            "l_quantity_range": ~F.col("l_quantity").between(1, 50),
            "l_discount_range": ~F.col("l_discount").between(0.0, 0.1),
        }),
        check_unique(li, ["l_orderkey", "l_linenumber"], "lineitem_pk"),
        check_fk(o, "o_custkey", c, "c_custkey", "orders_customer_fk"),
        check_fk(li, "l_orderkey", o, "o_orderkey", "lineitem_orders_fk"),
    ]
    return expectations_report(parts)


DQ_SQL = """
SELECT 'o_custkey_not_null' AS rule, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations FROM orders
UNION ALL
SELECT 'o_totalprice_floor', COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice < 5000.0 THEN 1 ELSE 0 END)
            AS BIGINT) FROM orders
UNION ALL
SELECT 'l_quantity_range', COUNT(*),
       CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
                     THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'l_discount_range', COUNT(*),
       CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
                     THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem_pk', COUNT(*),
       COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
  FROM lineitem
UNION ALL
SELECT 'orders_customer_fk', (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_orders_fk', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
"""


def kg_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank: teleport mass restricted to the 3
    lexicographically-smallest subject entities — "entities related to
    X" ranking over the triple graph (operators/graph.py seeds=; same
    fixed-point integer arithmetic as kg_pagerank, bit-exact by
    construction; non-seed-reachable nodes rank exactly 0)."""
    from ..operators.graph import pagerank_fixed_point

    edges = _kg_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node")).distinct()
        .orderBy("node").limit(3)
    )
    r = pagerank_fixed_point(edges, seeds=seeds)
    out = _stage(r, "kg_ppr_ranks")
    r.pagerank_cache.unpersist()
    return out


def _kg_ppr_sql() -> str:
    from ..operators.graph import pagerank_sql

    seeds = (
        "SELECT src AS node FROM (SELECT DISTINCT src FROM "
        f"{_staged_sql('kg_graph_edges')} ORDER BY src LIMIT 3)"
    )
    return pagerank_sql(_staged_sql("kg_graph_edges"), seeds_sql=seeds)


def kg_triangles(spark, sf_dir):
    """Triangle census of the entity co-occurrence graph — subjects and
    objects co-mentioned in triples (operators/graph.py triangle_count:
    degree-ordered orientation caps every vertex's wedge fan at
    O(sqrt(m)), the hub-proof formulation).  One summary row of integer
    counts, bit-exact across engines."""
    from ..operators.graph import triangle_count

    edges = _kg_edges(spark, sf_dir)
    out = triangle_count(edges)
    staged = _stage(out, "kg_tri_out")
    out.triangle_cache.unpersist()
    return staged


def _kg_triangles_sql() -> str:
    from ..operators.graph import triangle_sql

    return triangle_sql(_staged_sql("kg_graph_edges"))


def _kg_khop_sql() -> str:
    from ..operators.graph import khop_sql

    seeds = (
        "SELECT src AS node FROM (SELECT DISTINCT src FROM "
        f"{_staged_sql('kg_graph_edges')} ORDER BY src LIMIT 3)"
    )
    return khop_sql(_staged_sql("kg_graph_edges"), seeds, k=3)


# ---------------------------------------------------------------------------
# behavioral analytics / weighted sampling / corrected HLL / centrality
# ---------------------------------------------------------------------------


_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WINDOW_US = 86400 * 1_000_000  # 1 day per step


def events_funnel(spark, sf_dir):
    """Ordered view->click->purchase funnel with a 1-day per-step
    window, strict chained-min semantics (operators/funnel.py): the
    single-shuffle sorted-array HOF implementation — ONE pass over the
    event log vs the k-join form's k passes; the DuckDB twin runs the
    provably-equivalent chained-min CTEs (equivalence argued in the
    module docstring and gated by test_funnel's HOF==chained tests)."""
    from ..operators.funnel import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"),
        _FUNNEL_STEPS,
        window_us=_FUNNEL_WINDOW_US,
    )


def _funnel_sql() -> str:
    from ..operators.funnel import funnel_sql

    return funnel_sql("events", _FUNNEL_STEPS, window_us=_FUNNEL_WINDOW_US)


def events_retention(spark, sf_dir):
    """Weekly retention triangle (operators/funnel.py): cohort = week
    of first event (integer week index from a fixed Monday anchor — no
    engine week-truncation semantics), n_users active at each offset.
    Two shuffles, integer outputs only; offset-0 row = cohort size so
    rates are derivable without floats."""
    from ..operators.funnel import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


def _retention_sql() -> str:
    from ..operators.funnel import retention_sql

    return retention_sql("events")


def docs_weighted_sample(spark, sf_dir):
    """Deterministic weighted document sampling via priority sampling
    (operators/sampling.py; Duffield-Lund-Thorup): k=100 docs weighted
    by n_chars, md5-seeded 52-bit uniforms, priority = w/u (ONE IEEE
    division — bit-identical cross-engine, unlike A-ES's ln), plus the
    tau-threshold unbiased subset-sum estimator.  Plan is
    TakeOrderedAndProject: per-partition top-k heaps, no global sort,
    only k+1 rows leave the executors."""
    from ..operators.sampling import priority_sample

    return priority_sample(
        _t(spark, sf_dir, "documents"), "n_chars", 100, "doc_id"
    )


def _wsample_sql() -> str:
    from ..operators.sampling import priority_sample_sql

    return priority_sample_sql("documents", "doc_id", "n_chars", 100)


def hll_small_range_users(spark, sf_dir):
    """HLL with the Flajolet small-range linear-counting branch
    (operators/sketch.py hll_corrected_from_hashes): distinct users per
    event type — few hundred distinct at m=1024, i.e. squarely in the
    regime where raw HLL is biased high and m*ln(m/V) is the MLE.  The
    branch taken ('linear') is an output column, so the driver hash
    checks the correction actually fired; exact count rides alongside.
    Hashes staged (DuckDB has no xxhash64); ln's 1-ulp portability
    wobble is absorbed by ROUND(..., 3) on both engines."""
    from ..operators.sketch import hll_corrected_from_hashes

    e = _t(spark, sf_dir, "events")
    hashed = _stage(
        e.select("event_type", F.xxhash64("user_id").alias("uhash")),
        "hll_small_hashes",
    )
    est = hll_corrected_from_hashes(
        hashed, "uhash", ["event_type"], log2m=10
    )
    exact = hashed.groupBy("event_type").agg(
        F.countDistinct("uhash").alias("n_exact")
    )
    return est.join(exact, "event_type").orderBy("event_type")


def _hll_small_sql() -> str:
    from ..operators.sketch import hll_corrected_sql

    inner = hll_corrected_sql(
        _staged_sql("hll_small_hashes"), "uhash", ["event_type"], log2m=10
    )
    return f"""
SELECT e.event_type, e.method, e.hll_estimate, x.n_exact
FROM ({inner}) e
JOIN (SELECT event_type, COUNT(DISTINCT uhash) AS n_exact
      FROM {_staged_sql('hll_small_hashes')} GROUP BY 1) x
  USING (event_type)
ORDER BY e.event_type
"""


_RRF_POOL = 20  # per-strategy shortlist depth fed to the fusion


def knn_rrf_fusion(spark, sf_dir):
    """Reciprocal Rank Fusion of two retrieval strategies over the
    embeddings table (operators/rank.py; Cormack et al. 2009): exact
    cosine top-20 and raw dot-product top-20 per probe, fused to top-5
    by rrf = 1/(60+r_cos) + 1/(60+r_dot).  Each term is one int->double
    division and the sum is a fixed two-term expression — bit-identical
    cross-engine, so the fused ORDER (not just the score) hash-checks.
    The production shape for 'ANN shortlist + rerank + keyword' stacks;
    fusion cost tracks the rank lists (<= 2k rows/probe), never the
    corpus."""
    from ..operators.rank import rrf_fuse
    from ..operators.topk import topk_per_group

    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    cands = e.filter(F.col("vec_id") >= 8)
    norm = lambda c: F.sqrt(cosine_expr(c, c))  # noqa: E731
    scored = cands.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        (
            cosine_expr("pe", "embedding")
            / (norm("pe") * norm("embedding"))
        ).alias("cos"),
        cosine_expr("pe", "embedding").alias("dot"),
    )
    by_cos = topk_per_group(
        scored, ["probe_id"], "cos", k=_RRF_POOL, tiebreak_cols=["vec_id"]
    ).select("probe_id", "vec_id", "rank")
    by_dot = topk_per_group(
        scored, ["probe_id"], "dot", k=_RRF_POOL, tiebreak_cols=["vec_id"]
    ).select("probe_id", "vec_id", "rank")
    return rrf_fuse(by_cos, by_dot, ["probe_id"], "vec_id", k=5)


def _rrf_fusion_sql() -> str:
    from ..operators.rank import rrf_sql

    dot = (
        "list_dot_product(CAST(p.embedding AS DOUBLE[]), "
        "CAST(c.embedding AS DOUBLE[]))"
    )
    pnorm = (
        "sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), "
        "CAST(p.embedding AS DOUBLE[])))"
    )
    cnorm = (
        "sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), "
        "CAST(c.embedding AS DOUBLE[])))"
    )
    pool = (
        "FROM (SELECT * FROM embeddings WHERE vec_id < 8) p, "
        "(SELECT * FROM embeddings WHERE vec_id >= 8) c"
    )

    def ranked(score: str) -> str:
        return f"""
SELECT probe_id, vec_id, CAST(rn AS INTEGER) AS rank FROM (
  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
         ROW_NUMBER() OVER (PARTITION BY p.vec_id
                            ORDER BY {score} DESC, c.vec_id ASC) AS rn
  {pool})
WHERE rn <= {_RRF_POOL}"""

    return rrf_sql(
        ranked(f"{dot} / ({pnorm} * {cnorm})"),
        ranked(dot),
        ["probe_id"],
        "vec_id",
        k=5,
    )


def doc_pmi_collocations(spark, sf_dir):
    """Collocation mining over the documents table: adjacent-pair lift
    (PMI without the log — the transcendental is left to the consumer
    so the score stays bit-identical cross-engine; operators/corpus.py
    pmi_collocations).  Two explodes, map-side partial counts,
    vocabulary-keyed joins, broadcast totals — the 'find multi-word
    expressions before tokenizer training' pass of a corpus pipeline."""
    from ..operators.corpus import pmi_collocations

    return pmi_collocations(
        _t(spark, sf_dir, "documents").select("text"), "text", min_count=5
    )


def _pmi_sql() -> str:
    from ..operators.corpus import pmi_sql

    return pmi_sql("documents", "text", min_count=5)


def kg_link_prediction(spark, sf_dir):
    """Link prediction over the entity graph: neighbor-set Jaccard for
    non-adjacent pairs with >= 2 common neighbors (operators/graph.py
    jaccard_link_prediction) on the shared staged (subj -> obj) edges —
    "which entities should probably be linked" — integer wedge counts +
    ONE int/int division (bit-exact cross-engine).  The quadratic hub
    caveat and its AllPairs/stop-node scale path are documented on the
    operator; this exact form is the oracle for both."""
    from ..operators.graph import jaccard_link_prediction

    edges = _kg_edges(spark, sf_dir)
    out = jaccard_link_prediction(edges, min_common=2)
    staged = _stage(out.orderBy("node_a", "node_b"), "kg_linkpred_out")
    out.linkpred_cache.unpersist()
    return staged


def _kg_linkpred_sql() -> str:
    from ..operators.graph import jaccard_link_sql

    return (
        jaccard_link_sql(_staged_sql("kg_graph_edges"), min_common=2)
        + "\nORDER BY node_a, node_b"
    )


def kg_closeness(spark, sf_dir):
    """Sampled-source closeness centrality over the entity graph
    (operators/graph.py closeness_centrality): multi-source BFS from
    the 4 lexicographically-smallest subjects on the shared staged
    (subj -> obj) edges — "how central is this entity" with integer BFS
    distances and a single int/int division (bit-exact cross-engine).
    Sampled sources (Eppstein-Wang) is the 10^9-node scale form: S
    rides in the frontier key, not in extra graph passes."""
    from ..operators.graph import closeness_centrality

    edges = _kg_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(4)
    )
    out = closeness_centrality(edges, seeds, max_hops=6)
    staged = _stage(out.orderBy("root"), "kg_closeness_out")
    out.closeness_cache.unpersist()
    return staged


def _kg_closeness_sql() -> str:
    from ..operators.graph import closeness_sql

    seeds = (
        "SELECT src AS node FROM (SELECT DISTINCT src FROM "
        f"{_staged_sql('kg_graph_edges')} ORDER BY src LIMIT 4)"
    )
    return (
        closeness_sql(_staged_sql("kg_graph_edges"), seeds, max_hops=6)
        + "\nORDER BY root"
    )


def kg_harmonic(spark, sf_dir):
    """Harmonic centrality of the 4 lexicographically-smallest subjects
    over the entity graph (operators/graph.py harmonic_centrality):
    sum of 1/dist over the reached set, computed as an exact integer
    (lcm fixed-point: harmonic_fp = sum(L div dist), L = lcm(1..6))
    plus ONE final IEEE division — bit-exact cross-engine, the
    disconnected-graph-robust centrality (Boldi-Vigna) a sparse KG
    actually wants."""
    from ..operators.graph import harmonic_centrality

    edges = _kg_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(4)
    )
    out = harmonic_centrality(edges, seeds, max_hops=6)
    staged = _stage(out.orderBy("root"), "kg_harmonic_out")
    out.harmonic_cache.unpersist()
    return staged


def _kg_harmonic_sql() -> str:
    from ..operators.graph import harmonic_sql

    seeds = (
        "SELECT src AS node FROM (SELECT DISTINCT src FROM "
        f"{_staged_sql('kg_graph_edges')} ORDER BY src LIMIT 4)"
    )
    return (
        harmonic_sql(_staged_sql("kg_graph_edges"), seeds, max_hops=6)
        + "\nORDER BY root"
    )


def kg_scc(spark, sf_dir):
    """Strongly-connected components of the DIRECTED entity graph
    (operators/graph.py scc_labels: trim + min-label coloring +
    backward sweep, all integer/string comparisons — bit-exact): the
    cycle structure of the KG — kg_components says "one weak blob",
    this says which parts of it directed traversal can loop through.
    Full (node, scc-min-member) mapping; the DuckDB twin replays it as
    a mutual-reachability transitive closure over the same staged
    relation."""
    from ..operators.graph import scc_labels

    edges = _kg_edges(spark, sf_dir)
    out = scc_labels(edges)
    staged = _stage(out.orderBy("node"), "kg_scc_out")
    out.scc_cache.unpersist()
    return staged


def _kg_scc_sql() -> str:
    from ..operators.graph import scc_sql

    return scc_sql(_staged_sql("kg_graph_edges")) + "ORDER BY node"


def kg_betweenness(spark, sf_dir):
    """Sampled-source betweenness centrality over the entity graph
    (operators/graph.py betweenness_sampled, Brandes dependency
    accumulation from the 4 lexicographically-smallest subjects): the
    "broker" entities that sit on inter-entity shortest paths.  Float
    deltas are deterministic sorted-array folds; the DuckDB twin
    replays the exact fold orders with list_reduce over ordered lists,
    so the doubles hash-match (the betweenness_sql device — promoted
    from round-5's pytest-only gate to a full driver entry)."""
    from ..operators.graph import betweenness_sampled

    edges = _kg_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(4)
    )
    out = betweenness_sampled(edges, seeds, max_hops=6)
    staged = _stage(out.orderBy("node"), "kg_betweenness_out")
    out.betweenness_cache.unpersist()
    return staged


def _kg_betweenness_sql() -> str:
    from ..operators.graph import betweenness_sql

    seeds = (
        "SELECT src AS node FROM (SELECT DISTINCT src FROM "
        f"{_staged_sql('kg_graph_edges')} ORDER BY src LIMIT 4)"
    )
    return (
        betweenness_sql(_staged_sql("kg_graph_edges"), seeds, max_hops=6)
        + "\nORDER BY node"
    )


def kg_condensation(spark, sf_dir):
    """Condensation DAG of the entity graph, topologically layered
    (operators/graph.py condensation_layers): one row per SCC with its
    longest-path-from-a-source layer and member count — the
    evaluation-order view of the KG (layer k is processable after
    layers < k).  Integer fixed-point relaxation over the condensation
    edges; the DuckDB twin replays SCC labeling as mutual-reachability
    closure plus a recursive longest-chain — bit-exact (integers
    only)."""
    from ..operators.graph import condensation_layers

    edges = _kg_edges(spark, sf_dir)
    out = condensation_layers(edges)
    staged = _stage(out.orderBy("scc"), "kg_condensation_out")
    out.condensation_cache.unpersist()
    return staged


def _kg_condensation_sql() -> str:
    from ..operators.graph import condensation_sql

    return condensation_sql(_staged_sql("kg_graph_edges")) + "ORDER BY scc"


def kg_shortest_paths(spark, sf_dir):
    """Hop-bounded weighted shortest paths from the 4 smallest subjects
    (operators/graph.py bounded_shortest_paths, Bellman-Ford rounds):
    min total edge weight over paths of <= 6 edges.  Edge weights are a
    deterministic engine-portable integer expression over the entity
    ids (1 + (len(src) + 2*len(dst)) % 7) so both engines derive them
    from the SAME staged relation — integer min/plus only, bit-exact."""
    from ..operators.graph import bounded_shortest_paths

    edges = _kg_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(4)
    )
    w = (
        F.lit(1)
        + (F.length("src") + F.lit(2) * F.length("dst")) % F.lit(7)
    )
    out = bounded_shortest_paths(edges, seeds, w, max_hops=6)
    staged = _stage(out.orderBy("root", "node"), "kg_sp_out")
    out.sp_cache.unpersist()
    return staged


def _kg_shortest_paths_sql() -> str:
    from ..operators.graph import bounded_sp_sql

    seeds = (
        "SELECT src AS node FROM (SELECT DISTINCT src FROM "
        f"{_staged_sql('kg_graph_edges')} ORDER BY src LIMIT 4)"
    )
    return (
        bounded_sp_sql(
            _staged_sql("kg_graph_edges"),
            seeds,
            "1 + (LENGTH(src) + 2 * LENGTH(dst)) % 7",
            max_hops=6,
        )
        + "\nORDER BY root, node"
    )


def kg_hyperball(spark, sf_dir):
    """Per-node neighborhood function of the entity graph via HyperBall
    (operators/graph.py hyperball_from_hashes): HLL sketches of the
    t-hop out-ball for t=0..3, log2m=5 — the degrees-of-separation /
    effective-diameter curve without materializing reachable sets.
    Node hashes are staged (DuckDB has no xxhash64); everything after
    is integer max-merge plus ONE division by an injected repr(f64)
    constant, so the double column is bit-exact cross-engine."""
    from ..operators.graph import hyperball_from_hashes

    edges = _kg_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    hashes = _stage(
        nodes.select("node", F.xxhash64("node").alias("h")),
        "kg_hb_hashes",
    )
    out = hyperball_from_hashes(edges, hashes, t_max=3, log2m=5)
    staged = _stage(out.orderBy("node", "t"), "kg_hb_out")
    out.hyperball_cache.unpersist()
    return staged


def _kg_hyperball_sql() -> str:
    from ..operators.graph import hyperball_sql

    return (
        hyperball_sql(
            _staged_sql("kg_graph_edges"),
            _staged_sql("kg_hb_hashes"),
            t_max=3,
            log2m=5,
        )
        + "\nORDER BY node, t"
    )


def kg_kcore(spark, sf_dir):
    """2-core of the (undirected) entity graph (operators/graph.py
    k_core): iterative peeling to fixpoint, (node, degree-in-core).
    Integer counts only; the twin unrolls 16 peeling rounds (no-ops
    past the fixpoint; k_core raises if Spark ever needs more, so an
    unroll mismatch fails loudly)."""
    from ..operators.graph import k_core

    edges = _kg_edges(spark, sf_dir)
    out = k_core(edges, k=2, max_rounds=16)
    staged = _stage(out.orderBy("node"), "kg_kcore_out")
    out.kcore_cache.unpersist()
    return staged


def _kg_kcore_sql() -> str:
    from ..operators.graph import k_core_sql

    return (
        k_core_sql(_staged_sql("kg_graph_edges"), k=2, rounds=16)
        + "\nORDER BY node"
    )


def kg_comention(spark, sf_dir):
    """Entity co-mention projection (operators/graph.py
    comention_edges): entity pairs sharing a supporting document,
    e1 < e2, weighted by shared-doc count — the relation-candidate
    graph of KG construction.  Hub documents above the fan-out cap are
    dropped before pairing (quadratic-blowup guard); integer counts
    only."""
    from ..operators.graph import comention_edges

    edges = _kg_edges(spark, sf_dir)
    return comention_edges(edges)


def _kg_comention_sql() -> str:
    from ..operators.graph import comention_sql

    return comention_sql(_staged_sql("kg_graph_edges"))


def kg_negative_samples(spark, sf_dir):
    """Deterministic tail-corruption negatives for KG-embedding
    training (operators/graph.py negative_tails_from_hashes): 2
    negatives per positive edge, tail drawn at the hash position in
    the sorted entity list, bumped one slot (mod n) on collision with
    the true tail — no RNG state, so retries/resume reproduce
    identical negatives.  The (src, dst, i) hashes are staged (DuckDB
    has no xxhash64); the twin replays dense ids + modulo + bump."""
    from ..operators.graph import negative_tails_from_hashes

    edges = _kg_edges(spark, sf_dir)
    hashed = _stage(
        edges.select(
            "src",
            "dst",
            F.explode(F.sequence(F.lit(1), F.lit(2))).alias("i"),
        ).select(
            "src", "dst", "i", F.xxhash64("src", "dst", "i").alias("h")
        ),
        "kg_neg_hashes",
    )
    tails = edges.select(F.col("dst").alias("tail")).distinct()
    return negative_tails_from_hashes(hashed, tails)


def _kg_negative_sql() -> str:
    from ..operators.graph import negative_tails_sql

    return negative_tails_sql(
        _staged_sql("kg_neg_hashes"),
        "SELECT DISTINCT dst AS tail FROM "
        + _staged_sql("kg_graph_edges"),
    )


def _order_days(col: str = "o_orderdate"):
    """Integer epoch-day column from the NTZ order timestamp — the
    TZ-independent form both engines agree on (to_date takes the
    literal date part; DuckDB twin: CAST(col AS DATE) - DATE
    '1970-01-01')."""
    return F.datediff(
        F.to_date(col), F.to_date(F.lit("1970-01-01"))
    ).cast("long")


_DAYS_SQL = "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)"


def orders_overlap_pairs(spark, sf_dir):
    """Interval overlap self-join (operators/temporal.py
    interval_join): pairs of orders of the SAME customer whose 30-day
    activity windows [orderdate, orderdate+30) overlap, with the
    overlap length.  Spark runs the bucketed emit-once equi-join (no
    distinct, no per-key cross join); the oracle is the PLAIN non-equi
    join — semantics vs mechanics.  Integer day arithmetic only."""
    from ..operators.temporal import interval_join

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey", "o_orderkey", _order_days().alias("_d")
    )
    left = base.select(
        "o_custkey",
        F.col("o_orderkey").alias("ok_a"),
        F.col("_d").alias("s_a"),
        (F.col("_d") + 30).alias("e_a"),
    )
    right = base.select(
        "o_custkey",
        F.col("o_orderkey").alias("ok_b"),
        F.col("_d").alias("s_b"),
        (F.col("_d") + 30).alias("e_b"),
    )
    return (
        interval_join(
            left, right, ["o_custkey"], "s_a", "e_a", "s_b", "e_b", 32
        )
        .filter(F.col("ok_a") < F.col("ok_b"))
        .select(
            "o_custkey",
            "ok_a",
            "ok_b",
            (
                F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
            ).alias("overlap_days"),
        )
    )


def _orders_overlap_sql() -> str:
    return f"""
WITH base AS (
  SELECT o_custkey, o_orderkey, {_DAYS_SQL} AS d FROM orders)
SELECT a.o_custkey, a.o_orderkey AS ok_a, b.o_orderkey AS ok_b,
       LEAST(a.d + 30, b.d + 30) - GREATEST(a.d, b.d) AS overlap_days
FROM base a JOIN base b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.d < b.d + 30 AND b.d < a.d + 30
"""


def orders_interval_islands(spark, sf_dir):
    """Gaps-and-islands (operators/temporal.py temporal_coalesce):
    merge each customer's overlapping-or-touching 30-day order windows
    into maximal activity islands — (customer, island_start,
    island_end, n_orders).  Two window passes + one groupBy, integer
    comparisons only; the twin is the identical window pipeline."""
    from ..operators.temporal import temporal_coalesce

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        _order_days().alias("s"),
        (_order_days() + 30).alias("e"),
    )
    return temporal_coalesce(base, ["o_custkey"], "s", "e")


def _orders_islands_sql() -> str:
    from ..operators.temporal import temporal_coalesce_sql

    base = (
        "(SELECT o_custkey, "
        f"{_DAYS_SQL} AS s, {_DAYS_SQL} + 30 AS e FROM orders)"
    )
    return temporal_coalesce_sql(base, ["o_custkey"], "s", "e")


def bitemporal_orders_snapshot(spark, sf_dir):
    """Bitemporal snapshot (operators/temporal.py
    bitemporal_snapshot): two system versions per order are
    synthesized deterministically (v1 recorded for 15 days from the
    order date, then superseded by v2 with a 500-cent adjustment,
    open-ended; both valid [orderdate, orderdate+60)), and the
    snapshot asks what the table said AS OF system day 1995-06-15
    ABOUT valid day 1995-07-01.  Pure filter — pushdown reaches the
    scan; integer day + floor-cent arithmetic (FLOOR before the
    BIGINT cast: DuckDB's double->int cast rounds, Spark's
    truncates)."""
    from datetime import date

    from ..operators.temporal import bitemporal_snapshot

    s_day = (date(1995, 6, 15) - date(1970, 1, 1)).days
    v_day = (date(1995, 7, 1) - date(1970, 1, 1)).days
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        _order_days().alias("d"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias(
            "price_c"
        ),
    )
    v1 = base.select(
        "o_orderkey",
        "o_custkey",
        F.lit(1).alias("version"),
        F.col("d").alias("sf"),
        (F.col("d") + 15).alias("st"),
        F.col("d").alias("vf"),
        (F.col("d") + 60).alias("vt"),
        "price_c",
    )
    v2 = base.select(
        "o_orderkey",
        "o_custkey",
        F.lit(2).alias("version"),
        (F.col("d") + 15).alias("sf"),
        F.lit(None).cast("long").alias("st"),
        F.col("d").alias("vf"),
        (F.col("d") + 60).alias("vt"),
        (F.col("price_c") + 500).alias("price_c"),
    )
    return bitemporal_snapshot(
        v1.unionByName(v2), "sf", "st", "vf", "vt", s_day, v_day
    ).select("o_orderkey", "o_custkey", "version", "price_c")


def _bitemporal_orders_sql() -> str:
    from datetime import date

    from ..operators.temporal import bitemporal_snapshot_sql

    s_day = (date(1995, 6, 15) - date(1970, 1, 1)).days
    v_day = (date(1995, 7, 1) - date(1970, 1, 1)).days
    vers = f"""(
  WITH base AS (
    SELECT o_orderkey, o_custkey, {_DAYS_SQL} AS d,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders)
  SELECT o_orderkey, o_custkey, CAST(1 AS INT) AS version,
         d AS sf, d + 15 AS st, d AS vf, d + 60 AS vt, price_c
  FROM base
  UNION ALL
  SELECT o_orderkey, o_custkey, CAST(2 AS INT),
         d + 15, CAST(NULL AS BIGINT), d, d + 60, price_c + 500
  FROM base)"""
    inner = bitemporal_snapshot_sql(
        vers, "sf", "st", "vf", "vt", s_day, v_day
    )
    return (
        "SELECT o_orderkey, o_custkey, version, price_c FROM ("
        + inner
        + ")"
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# round-6 session-5 graph/ER additions: local clustering, bounded closure,
# deterministic walks, sorted-neighborhood blocking
# ---------------------------------------------------------------------------


def kg_clustering(spark, sf_dir):
    """Per-node local clustering coefficients of the entity graph —
    the hub-vs-community diagnostic (a high-degree low-LCC entity is a
    hub/disambiguation node; high-LCC entities sit in dense communities)
    over the shared staged (subj -> obj) edges, undirected.  Degree-
    ordered orientation keeps wedge fan O(sqrt(m)) on hub graphs;
    integer micro-unit coefficients (truncating division) make the
    result bit-exact cross-engine.  See operators/graph.py
    clustering_coefficients."""
    from ..operators.graph import clustering_coefficients

    edges = _kg_edges(spark, sf_dir)
    out = clustering_coefficients(edges)
    res = out.orderBy("node")
    res = _stage(res, "kg_clustering_out")
    out.clustering_cache.unpersist()
    return res


def _kg_clustering_sql() -> str:
    from ..operators.graph import clustering_sql

    return clustering_sql(_staged_sql("kg_graph_edges")) + "\nORDER BY node"


def kg_transitive_closure(spark, sf_dir):
    """Depth-bounded transitive closure of the entity graph, aggregated
    per source: (src, n_reach, max_dist) for everything reachable in
    <= 6 directed hops — the Datalog ancestor/subsumption
    materialization of KG reasoning (subClassOf*/partOf*), run
    semi-naive (per-round join on the DELTA only, early fixpoint exit,
    checkpointed rounds).  The DuckDB twin re-derives min-distances
    with a depth-carrying recursive CTE over the SAME staged edges.
    Integer/string outputs only."""
    from ..operators.graph import transitive_closure

    edges = _kg_edges(spark, sf_dir)
    clo = transitive_closure(edges, max_depth=6)
    out = (
        clo.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_reach"),
            F.max("dist").alias("max_dist"),
        )
        .orderBy("src")
    )
    out = _stage(out, "kg_closure_out")
    clo.closure_cache.unpersist()
    return out


def _kg_transitive_closure_sql() -> str:
    from ..operators.graph import closure_sql

    inner = closure_sql(_staged_sql("kg_graph_edges"), max_depth=6)
    return (
        f"SELECT src, COUNT(*) AS n_reach, MAX(dist) AS max_dist\n"
        f"FROM ({inner})\nGROUP BY src\nORDER BY src"
    )


def kg_random_walks(spark, sf_dir):
    """Deterministic seeded random walks over the entity graph — the
    graph-embedding training-corpus primitive (DeepWalk/node2vec) made
    reproducible: the per-step draw is xxhash64(salt, step, edge), so
    the same corpus regenerates bit-identically on resume and on any
    engine.  Walks of length 5 from the 3 lexicographically-smallest
    subject entities (same seed rule as kg_khop_reach); the per-step
    hash draws are STAGED and the DuckDB twin replays the argmin
    next-hop choice and the walk recursion from the same bytes.  See
    operators/graph.py random_walks for the plan shape (one window
    shuffle for next-hops; tiny broadcast joins per step)."""
    from ..operators.graph import random_walks, walk_edge_keys

    edges = _kg_edges(spark, sf_dir)
    keyed = _stage(walk_edge_keys(edges, length=5), "kg_walk_keys")
    seeds = (
        edges.select(F.col("src").alias("node")).distinct()
        .orderBy("node").limit(3)
    )
    out = random_walks(keyed, seeds, length=5)
    res = out.orderBy("walk_id", "step")
    res = _stage(res, "kg_walks_out")
    out.walks_cache.unpersist()
    return res


def _kg_random_walks_sql() -> str:
    from ..operators.graph import walks_sql

    seeds = (
        "SELECT src AS node FROM (SELECT DISTINCT src FROM "
        f"{_staged_sql('kg_graph_edges')} ORDER BY src LIMIT 3)"
    )
    return (
        walks_sql(_staged_sql("kg_walk_keys"), seeds, length=5)
        + "\nORDER BY walk_id, step"
    )


def er_sorted_neighborhood(spark, sf_dir):
    """Entity-resolution candidate generation by sorted-neighborhood
    blocking (Hernandez & Stolfo SIGMOD'95, blocked multi-pass variant)
    over part names: rows sharing the first name token are sorted by
    (name, key) and each pairs with its 2 successors — the key-locality
    complement to the hash blockers (MinHash-LSH / SimHash / prefix
    filter) for records embeddings mishandle.  One key-hash shuffle +
    one rank-window self-join; deterministic total order.  See
    operators/blocking.py."""
    from ..operators.blocking import sorted_neighborhood_pairs

    part = _t(spark, sf_dir, "part")
    out = sorted_neighborhood_pairs(
        part,
        F.expr("split_part(p_name, ' ', 1)"),
        "p_name",
        "p_partkey",
        window=3,
    )
    return out.orderBy("block_key", "id_a", "id_b")


def _er_sorted_neighborhood_sql() -> str:
    from ..operators.blocking import sorted_neighborhood_sql

    return (
        sorted_neighborhood_sql(
            "part",
            "split_part(p_name, ' ', 1)",
            "p_name",
            "p_partkey",
            window=3,
        )
        + "\nORDER BY block_key, id_a, id_b"
    )


def kg_resource_allocation(spark, sf_dir):
    """Link prediction over the entity graph by the resource-allocation
    index (Zhou-Lu-Zhang) — common neighbors weighted by 1/degree, the
    low-degree-evidence refinement of kg_link_prediction's Jaccard.
    Scores are DEFINED in integer nano-units (per-term truncating
    division, exact integer sum — the fixed-point PageRank discipline)
    so the result is bit-exact cross-engine.  Same wedge-stream plan
    and hub caveat as the Jaccard entry; see operators/graph.py
    resource_allocation_link_prediction."""
    from ..operators.graph import resource_allocation_link_prediction

    edges = _kg_edges(spark, sf_dir)
    out = resource_allocation_link_prediction(edges, min_common=2)
    res = _stage(out.orderBy("node_a", "node_b"), "kg_ra_out")
    out.ra_cache.unpersist()
    return res


def _kg_resource_allocation_sql() -> str:
    from ..operators.graph import resource_allocation_sql

    return (
        resource_allocation_sql(_staged_sql("kg_graph_edges"), min_common=2)
        + "\nORDER BY node_a, node_b"
    )


def kg_rectangles(spark, sf_dir):
    """4-cycle census of the entity graph — the next motif after the
    triangle census (bipartite-style cohesion: two entities sharing TWO
    distinct co-mention partners); one row of integer counts, exact on
    both engines by the lambda-fold identity (sum lam*(lam-1) div 4).
    See operators/graph.py rectangle_count."""
    from ..operators.graph import rectangle_count

    edges = _kg_edges(spark, sf_dir)
    out = rectangle_count(edges)
    res = _stage(out, "kg_rect_out")
    out.rectangle_cache.unpersist()
    return res


def _kg_rectangles_sql() -> str:
    from ..operators.graph import rectangle_sql

    return rectangle_sql(_staged_sql("kg_graph_edges"))


# NOTE on ordering: the external driver evaluates only the FIRST 50
# entries of this dict each round; the tail is only checked locally
# (tools/check_contract.py runs ALL entries, Arrow-off, strict floats).
# ROTATION POLICY (amended round 6): the registry outgrew the window —
# 110 entries cannot all be driver-audited every other round through a
# 50-slot window (110/50 = 2.2), so the honest guarantee is now: every
# entry gets a driver CORRECTNESS row at least every THIRD round, the
# never-audited and oldest-audited entries enter first, and any entry
# whose backing code changed since its last driver row re-enters
# immediately (function granularity, git diff as evidence).  An entry
# may slip past the window only if its contract function and SQL twin
# are byte-identical since its last driver row and its category keeps
# an in-window or last-round-green witness; every slip is listed here
# and in SLIPPED of tools/check_rotation.py, which re-checks the policy
# against the committed CORRECTNESS_r*.json records every pytest run.
#
# ROUND-8 WINDOW ACCOUNTING.  Audit trail: CORRECTNESS_r06 and _r07 hold
# the same 50 entries (the round-7 window); the r7 rows were taken at
# aa1601f, the r5 rows at 929b8b7.  Owed this round: the 12 r4-greens
# with no row in r5-r7 and the 48 entries whose last row is r5 — 60
# entries for 50 slots, so a slip is forced.  Amended when the
# plan-flipping environment variables went: q1_pricing_summary (_fan)
# and curate_training_corpus (connected_components) changed code in the
# tail, so they entered at 19-20 and the two most-audited witnessed
# entries at 47-48 slipped.  Amended again when MinHash LSH and fuzzy
# name blocking moved onto the shared bucket-pair kernel
# (lsh.bucket_pairs): minhash_dedup_pairs (lsh_pairs_from_signatures,
# minhash_signatures), simhash_dedup_pairs (simhash_fingerprints) and
# part_name_fuzzy_pairs (fuzzy_name_pairs) changed code in the tail, so
# they entered at 21-23 and the three most-audited witnessed untouched
# entries that no other slip leans on as its only witness slipped.
# kg_canonical_triples, curate_training_corpus, embedding_neardup_cosine
# and doc_incremental_neardup reach the changed code too; they are
# in-window already.  Amended again when the IVF search got one Python
# UDF (fused.encode_and_link, which also searches a stored embedding
# column): the backing code of knn_ivf_exhaustive, kg_triples_exact,
# kg_triples_ann, kg_ann_recall and knn_incremental_index changed from
# link_ivf_broadcast to encode_and_link, plan_kg's entries
# (kg_canonical_triples, kg_skips_quarantine) reach the changed UDF,
# and embedding_neardup_cosine's operator drops NULL embeddings before
# routing.  All are in-window already (positions 13-30), so nothing
# moves.
#   positions 1-12   the twelve r4-greens (sort_limit_top_orders ..
#                    window_running_total): outside the last three
#                    records, so they MUST be in-window;
#   positions 13-20  r7-greens whose code changed since aa1601f:
#                    kg_canonical_triples (build_kg -> plan_kg +
#                    canonicalize), kg_triples_ann, kg_ann_recall,
#                    knn_ivf_exhaustive, knn_incremental_index (all
#                    through _IvfIndex; kg_ann_recall also through
#                    encode_mentions, knn_incremental_index also through
#                    TableStore), kg_skips_quarantine (encode_mentions
#                    -> with_content), q1_pricing_summary (_fan),
#                    curate_training_corpus (connected_components);
#   positions 21-23  r7-greens whose code changed in the tail since
#                    aa1601f: minhash_dedup_pairs, simhash_dedup_pairs,
#                    part_name_fuzzy_pairs;
#   positions 24-35  r5-greens whose code changed since 929b8b7:
#                    kg_triples_exact (link_exact_broadcast -> the
#                    exhaustive IVF search), kg_pagerank +
#                    kg_personalized_pagerank (pagerank_fixed_point,
#                    pagerank_sql), kg_khop_reach (khop_reachability),
#                    kg_components + doc_semantic_dedup
#                    (connected_components), embedding_neardup_cosine
#                    (hyperplane_lsh_pairs), doc_incremental_neardup
#                    (minhash_signatures), knn_bruteforce_cosine,
#                    knn_rrf_fusion, q3_top_unshipped_revenue,
#                    q5_region_revenue (the contract functions: _fan,
#                    _maybe_broadcast);
#   positions 36-48  the untouched r5-greens, least-audited first: the
#                    eleven whose only driver row is r5, then
#                    doc_pii_scrub and doc_contamination_probes (r3, r5),
#                    kept in-window as the only witnesses of slipped
#                    entries below;
#   positions 49-50  events_json_extract and date_funcs_orders_monthly:
#                    driver-green r1-r3 and r5 like the slipped entries
#                    below, but get_json_object and year()/month() are
#                    used by no other entry, so no witness can stand in.
#   positions 51-89  the 39 other r7-greens, code untouched since aa1601f;
#   positions 90-110 TWENTY-ONE r5-greens slip (MANDATORY round-9
#                    entrants; check_rotation refuses a round-9 order
#                    without them).  Their rows will be four rounds apart
#                    (r5 -> r9), one past the every-third-round bound:
#                    the 65-for-50 arithmetic above forces it, and the
#                    slipped ones are the most-audited untouched entries
#                    (driver-green r1, r2, r3 and r5, then the two with
#                    r2, r3 and r5, then doc_tfidf_keywords (r3, r5),
#                    cms_join_size_orders (r4, r5) and
#                    hll_small_range_users (r5), which has the one
#                    r7-green witness of its operator among the r5-only
#                    entries).
# Graph entries that reach changed code only through _kg_edges ->
# kg_triples_exact count as untouched: fourteen r7-greens
# (kg_condensation, kg_shortest_paths, kg_hyperball, kg_kcore,
# kg_comention, kg_negative_samples, kg_pagerank_tol, kg_betweenness,
# kg_clustering, kg_transitive_closure, kg_random_walks,
# kg_resource_allocation, kg_rectangles, kg_triangles) and five
# r5-greens (kg_communities, kg_closeness, kg_harmonic, kg_scc,
# kg_link_prediction).  Both engines read that output from the same
# staged kg_graph_edges, it is verified identical (all 1,646
# kg_triples_exact rows of the scale-independent KG corpus are equal at
# 929b8b7, aa1601f, 02e1e41 and this tree), and their own operators and
# SQL twins are byte-identical since their last row — the round-6
# kg_pagerank rule: a verified byte-identical input keeps an entry out.
# kg_span_roundtrip is untouched at function granularity (explode_spans
# and reassemble_spans are byte-identical since aa1601f).
# Slip criterion, per entry: contract function and SQL twin
# byte-identical since 929b8b7 (so is every function they call), and a
# witness of the same operator in-window or r7-green:
#   filter_project_pushdown          q3 (filtered, projected lineitem scan)
#   doc_ngram_jaccard_pairs          doc_contamination_probes (shared word
#                                    trigrams)
#   doc_fingerprint_dedup            doc_exact_dedup r7 (exact-content
#                                    dedup), doc_pii_scrub (text regexp)
#   doc_lang_id                      doc_pii_scrub
#   doc_quality_composite              (functions/text.py builders)
#   join_broadcast_dims              q5 (nation -> region dim chain,
#                                    broadcast)
#   semi_join_customers_with_orders  intersect_nations (Spark plans
#                                    INTERSECT as a left-semi join), kg_scc
#   anti_join_customers_without_orders  kg_khop_reach, kg_components
#                                    (left-anti joins)
#   window_topk_orders_per_cust      window_running_total (per-customer
#                                    ordered window), sort_limit_top_orders
#   union_dedup_nationkeys           intersect_nations,
#                                    except_customer_only_nations (set ops
#                                    over the same nation keys)
#   rollup_lineitem_flags            cube_orders_status_priority r7
#                                    (grouping sets)
#   events_user_activity             events_json_extract (groupBy
#                                    event_type over events),
#                                    agg_count_distinct
#   events_lag_gap                   events_sessionization r7 (the same
#                                    lag() over user_id, ts)
#   range_join_ship_lag              q3 (lineitem x orders equi-join),
#                                    orders_overlap_pairs r7 (date-range
#                                    predicate across rows)
#   doc_quality_score                doc_pii_scrub (regexp_replace),
#                                    string_funcs_part (length)
#   embedding_norm_stats             knn_bruteforce_cosine (cosine_expr)
#   doc_winnow_neardup               minhash_dedup_pairs r7 (staged per-doc
#                                    hashes self-joined on the hash and
#                                    counted per pair),
#                                    doc_contamination_probes (>= 2 shared
#                                    n-grams per pair)
#   doc_bpe_token_stats              doc_token_stats (per-language token
#                                    averages over documents),
#                                    doc_pii_scrub (text regexps)
#   doc_tfidf_keywords               cms_heavy_tokens r7 (the same
#                                    split(lower(text), ' ') term explode
#                                    over documents, counted per term),
#                                    doc_token_stats (whitespace tokens)
#   cms_join_size_orders             cms_heavy_tokens r7 (cms_positions,
#                                    the Count-Min position rows both
#                                    stage)
#   hll_small_range_users            hll_distinct_orderkeys r7 (HLL
#                                    registers from staged xxhash64
#                                    hashes: pmod bucket, lowest-set-bit
#                                    rank, max per register)
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sort_limit_top_orders": sort_limit_top_orders,
    "case_when_conditional_agg": case_when_conditional_agg,
    "agg_count_distinct": agg_count_distinct,
    "string_funcs_part": string_funcs_part,
    "percentiles_lineitem": percentiles_lineitem,
    "doc_token_stats": doc_token_stats,
    "except_customer_only_nations": except_customer_only_nations,
    "intersect_nations": intersect_nations,
    "scalar_subquery_above_avg": scalar_subquery_above_avg,
    "having_big_customers": having_big_customers,
    "agg_nations_per_region": agg_nations_per_region,
    "window_running_total": window_running_total,
    "kg_canonical_triples": kg_canonical_triples,
    "kg_triples_ann": kg_triples_ann,
    "kg_ann_recall": kg_ann_recall,
    "knn_ivf_exhaustive": knn_ivf_exhaustive,
    "knn_incremental_index": knn_incremental_index,
    "kg_skips_quarantine": kg_skips_quarantine,
    "q1_pricing_summary": q1_pricing_summary,
    "curate_training_corpus": curate_training_corpus,
    "minhash_dedup_pairs": minhash_dedup_pairs,
    "simhash_dedup_pairs": simhash_dedup_pairs,
    "part_name_fuzzy_pairs": part_name_fuzzy_pairs,
    "kg_triples_exact": kg_triples_exact,
    "kg_pagerank": kg_pagerank,
    "kg_personalized_pagerank": kg_personalized_pagerank,
    "kg_khop_reach": kg_khop_reach,
    "kg_components": kg_components,
    "doc_semantic_dedup": doc_semantic_dedup,
    "embedding_neardup_cosine": embedding_neardup_cosine,
    "doc_incremental_neardup": doc_incremental_neardup,
    "knn_bruteforce_cosine": knn_bruteforce_cosine,
    "knn_rrf_fusion": knn_rrf_fusion,
    "q3_top_unshipped_revenue": q3_top_unshipped_revenue,
    "q5_region_revenue": q5_region_revenue,
    "kg_communities": kg_communities,
    "kg_closeness": kg_closeness,
    "kg_harmonic": kg_harmonic,
    "kg_scc": kg_scc,
    "kg_link_prediction": kg_link_prediction,
    "doc_setsim_pairs": doc_setsim_pairs,
    "corpus_chunk_windows": corpus_chunk_windows,
    "events_funnel": events_funnel,
    "events_retention": events_retention,
    "docs_weighted_sample": docs_weighted_sample,
    "doc_pmi_collocations": doc_pmi_collocations,
    "doc_pii_scrub": doc_pii_scrub,
    "doc_contamination_probes": doc_contamination_probes,
    "events_json_extract": events_json_extract,
    "date_funcs_orders_monthly": date_funcs_orders_monthly,
    "kg_condensation": kg_condensation,
    "kg_shortest_paths": kg_shortest_paths,
    "kg_hyperball": kg_hyperball,
    "kg_kcore": kg_kcore,
    "kg_comention": kg_comention,
    "kg_negative_samples": kg_negative_samples,
    "orders_overlap_pairs": orders_overlap_pairs,
    "orders_interval_islands": orders_interval_islands,
    "bitemporal_orders_snapshot": bitemporal_orders_snapshot,
    "kg_pagerank_tol": kg_pagerank_tol,
    "kg_betweenness": kg_betweenness,
    "kg_clustering": kg_clustering,
    "kg_transitive_closure": kg_transitive_closure,
    "kg_random_walks": kg_random_walks,
    "er_sorted_neighborhood": er_sorted_neighborhood,
    "kg_resource_allocation": kg_resource_allocation,
    "kg_rectangles": kg_rectangles,
    "kg_triangles": kg_triangles,
    "doc_exact_dedup": doc_exact_dedup,
    "kg_span_roundtrip": kg_span_roundtrip,
    "media_decode_stats": media_decode_stats,
    "events_sessionization": events_sessionization,
    "events_asof_join": events_asof_join,
    "media_frame_plan": media_frame_plan,
    "hll_distinct_orderkeys": hll_distinct_orderkeys,
    "histogram_quantiles_price": histogram_quantiles_price,
    "cms_heavy_tokens": cms_heavy_tokens,
    "bloom_prune_orders": bloom_prune_orders,
    "dq_expectations": dq_expectations,
    "zorder_skipping_stats": zorder_skipping_stats,
    "doc_repetition_stats": doc_repetition_stats,
    "corpus_split_stats": corpus_split_stats,
    "corpus_pack_sequences": corpus_pack_sequences,
    "corpus_mix_stats": corpus_mix_stats,
    "corpus_sample_per_source": corpus_sample_per_source,
    "knn_pq_rescore": knn_pq_rescore,
    "left_outer_nation_customers": left_outer_nation_customers,
    "pivot_returnflag_by_status": pivot_returnflag_by_status,
    "cube_orders_status_priority": cube_orders_status_priority,
    "hll_small_range_users": hll_small_range_users,
    "cms_join_size_orders": cms_join_size_orders,
    "doc_tfidf_keywords": doc_tfidf_keywords,
    "filter_project_pushdown": filter_project_pushdown,
    "doc_ngram_jaccard_pairs": doc_ngram_jaccard_pairs,
    "doc_fingerprint_dedup": doc_fingerprint_dedup,
    "doc_lang_id": doc_lang_id,
    "doc_quality_composite": doc_quality_composite,
    "join_broadcast_dims": join_broadcast_dims,
    "semi_join_customers_with_orders": semi_join_customers_with_orders,
    "anti_join_customers_without_orders": anti_join_customers_without_orders,
    "window_topk_orders_per_cust": window_topk_orders_per_cust,
    "union_dedup_nationkeys": union_dedup_nationkeys,
    "rollup_lineitem_flags": rollup_lineitem_flags,
    "events_user_activity": events_user_activity,
    "events_lag_gap": events_lag_gap,
    "range_join_ship_lag": range_join_ship_lag,
    "doc_quality_score": doc_quality_score,
    "embedding_norm_stats": embedding_norm_stats,
    "doc_winnow_neardup": doc_winnow_neardup,
    "doc_bpe_token_stats": doc_bpe_token_stats,
}

ORACLES: dict[str, str] = {
    "q1_pricing_summary": Q1_SQL,
    "filter_project_pushdown": FILTER_SQL,
    "q3_top_unshipped_revenue": Q3_SQL,
    "q5_region_revenue": Q5_SQL,
    "join_broadcast_dims": JOIN_DIMS_SQL,
    "semi_join_customers_with_orders": SEMI_SQL,
    "anti_join_customers_without_orders": ANTI_SQL,
    "window_topk_orders_per_cust": WINDOW_TOPK_SQL,
    "agg_count_distinct": COUNT_DISTINCT_SQL,
    "union_dedup_nationkeys": UNION_SQL,
    "sort_limit_top_orders": SORT_LIMIT_SQL,
    "rollup_lineitem_flags": ROLLUP_SQL,
    "string_funcs_part": STRING_SQL,
    "date_funcs_orders_monthly": DATE_SQL,
    "case_when_conditional_agg": CASE_SQL,
    "events_user_activity": EVENTS_AGG_SQL,
    "events_lag_gap": EVENTS_LAG_SQL,
    "events_sessionization": SESSIONIZE_SQL,
    "events_asof_join": ASOF_SQL,
    "kg_components": _kg_components_sql(),
    "kg_communities": _kg_communities_sql(),
    "doc_semantic_dedup": _semdedup_sql(),
    "doc_setsim_pairs": _setsim_sql(),
    "corpus_chunk_windows": _chunk_sql(),
    "hll_distinct_orderkeys": _hll_sql(),
    "histogram_quantiles_price": _histq_sql(),
    "cms_heavy_tokens": _cms_sql(),
    "bloom_prune_orders": _bloom_sql(),
    "cms_join_size_orders": _cms_join_sql(),
    "dq_expectations": DQ_SQL,
    "zorder_skipping_stats": _zorder_sql(),
    "corpus_sample_per_source": SAMPLE_SQL,
    "doc_exact_dedup": DEDUP_SQL,
    "doc_token_stats": TOKEN_SQL,
    "doc_bpe_token_stats": _bpe_sql(),
    "doc_quality_score": QUALITY_SQL,
    "knn_bruteforce_cosine": KNN_SQL,
    "embedding_norm_stats": NORM_SQL,
    "left_outer_nation_customers": LEFT_OUTER_SQL,
    "window_running_total": RUNNING_TOTAL_SQL,
    "percentiles_lineitem": PERCENTILES_SQL,
    "agg_nations_per_region": NATIONS_AGG_SQL,
    "pivot_returnflag_by_status": PIVOT_SQL,
    "except_customer_only_nations": EXCEPT_SQL,
    "intersect_nations": INTERSECT_SQL,
    "scalar_subquery_above_avg": SCALAR_SUBQ_SQL,
    "having_big_customers": HAVING_SQL,
    "doc_repetition_stats": REPETITION_SQL,
    "doc_tfidf_keywords": TFIDF_SQL,
    "corpus_split_stats": SPLIT_SQL,
    "corpus_pack_sequences": PACK_SQL,
    "corpus_mix_stats": _mix_sql(),
    "doc_lang_id": _lang_sql(),
    "doc_quality_composite": QUALITY_COMPOSITE_SQL,
    "doc_fingerprint_dedup": FINGERPRINT_SQL,
    "doc_ngram_jaccard_pairs": NGRAM_SQL,
    "doc_contamination_probes": _contamination_sql(),
    "doc_pii_scrub": _pii_sql(),
    "embedding_neardup_cosine": NEARDUP_SQL,
    "knn_ivf_exhaustive": KNN_SQL,
    "knn_pq_rescore": KNN_DOT_SQL,
    "events_json_extract": JSON_SQL,
    "cube_orders_status_priority": CUBE_SQL,
    "range_join_ship_lag": RANGE_JOIN_SQL,
    "curate_training_corpus": _curate_sql(),
    "minhash_dedup_pairs": _minhash_sql(),
    "doc_incremental_neardup": _incremental_sql(),
    "part_name_fuzzy_pairs": _fuzzy_sql(),
    "simhash_dedup_pairs": _simhash_sql(),
    "doc_winnow_neardup": WINNOW_SQL,
    "kg_triples_exact": KG_EXACT_SQL,
    "kg_skips_quarantine": KG_SKIPS_SQL,
    "kg_triples_ann": KG_ANN_SQL,
    "kg_canonical_triples": KG_CANONICAL_SQL,
    "kg_span_roundtrip": _kg_span_sql(),
    "media_decode_stats": _media_decode_sql(),
    "media_frame_plan": _media_frame_sql(),
    "kg_pagerank": _kg_pagerank_sql(),
    "kg_khop_reach": _kg_khop_sql(),
    "kg_triangles": _kg_triangles_sql(),
    "kg_personalized_pagerank": _kg_ppr_sql(),
    "kg_closeness": _kg_closeness_sql(),
    "kg_harmonic": _kg_harmonic_sql(),
    "kg_betweenness": _kg_betweenness_sql(),
    "kg_clustering": _kg_clustering_sql(),
    "kg_transitive_closure": _kg_transitive_closure_sql(),
    "kg_random_walks": _kg_random_walks_sql(),
    "er_sorted_neighborhood": _er_sorted_neighborhood_sql(),
    "kg_resource_allocation": _kg_resource_allocation_sql(),
    "kg_rectangles": _kg_rectangles_sql(),
    "kg_scc": _kg_scc_sql(),
    "kg_condensation": _kg_condensation_sql(),
    "kg_shortest_paths": _kg_shortest_paths_sql(),
    "kg_hyperball": _kg_hyperball_sql(),
    "kg_kcore": _kg_kcore_sql(),
    "kg_comention": _kg_comention_sql(),
    "kg_negative_samples": _kg_negative_sql(),
    "orders_overlap_pairs": _orders_overlap_sql(),
    "orders_interval_islands": _orders_islands_sql(),
    "bitemporal_orders_snapshot": _bitemporal_orders_sql(),
    "kg_link_prediction": _kg_linkpred_sql(),
    "knn_rrf_fusion": _rrf_fusion_sql(),
    "doc_pmi_collocations": _pmi_sql(),
    "events_funnel": _funnel_sql(),
    "events_retention": _retention_sql(),
    "docs_weighted_sample": _wsample_sql(),
    "hll_small_range_users": _hll_small_sql(),
    "kg_ann_recall": KG_ANN_RECALL_SQL,
    "kg_pagerank_tol": _kg_pagerank_tol_sql(),
    "knn_incremental_index": KNN_INC_SQL,
    # Every QUERIES entry now has a DuckDB twin.  The staged-parquet
    # oracles are written by the Spark query, then DuckDB re-derives the
    # result from the same bytes (Spark must run first per entry — both
    # check_contract and the driver do).
}
