"""Bloom-filter membership as pure DataFrame ops — deterministic
semi-join pruning (Bloom 1970; the filter-pushdown trick every
warehouse's runtime row-level filtering is built on).

Why here: the linking stage joins a 10^12-row probe side against a much
smaller build side (entities already indexed, customers in a region, ids
already processed — the reference's skip-list/already-indexed anti-
checks, build-index.py:26-35, are exactly membership pruning).  Shipping
the build side's Bloom filter to the probe scan drops most probe rows
BEFORE the shuffle — the reduction is 1 - fill^k with zero false
negatives, for m bits of broadcast state.

Spark's own runtime filter (spark.sql.optimizer.runtime.bloomFilter.
enabled) is the production path: injected automatically under a
selective join, JVM-private bytes.  Like the HLL/CMS twins in sketch.py,
THIS implementation exists to make the primitive checkable: bit
positions are pure Catalyst xxhash64 expressions, the filter is a
DataFrame of distinct set positions (mergeable by union/distinct), and
membership is integer row counting — Spark, DuckDB (replaying staged
positions), and a Python loop agree bit-for-bit.

Scale shape: the bits frame has <= min(m, k*n_build) rows and
broadcasts (m = 10^8 bits ~ a few hundred MB of position longs worst
case; size m to the build side).  Probing is a broadcast join +
groupBy(key) with map-side partial counts — no shuffle of the probe
table, which is the entire point."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pos(key_col: str, j: int, n_bits: int):
    return F.pmod(F.xxhash64(F.lit(j), F.col(key_col)), F.lit(n_bits))


def bloom_bits(
    df: DataFrame,
    key_col: str,
    n_bits: int,
    n_hashes: int = 5,
) -> DataFrame:
    """The filter itself: distinct set bit positions (column ``_pos``)
    of every build-side key — hash family xxhash64(j, key) mod n_bits,
    j in [0, n_hashes).  Merge two filters (same m, k) by
    union + distinct; fill ratio = n_distinct_pos / n_bits."""
    arr = F.array(*[
        _pos(key_col, j, n_bits) for j in range(n_hashes)
    ])
    return (
        df.select(F.explode(arr).alias("_pos"))
        .distinct()
    )


def bloom_contains(
    df: DataFrame,
    key_col: str,
    bits: DataFrame,
    n_bits: int,
    n_hashes: int = 5,
) -> DataFrame:
    """(key_col, maybe_member) for each DISTINCT probe key: true iff all
    ``n_hashes`` positions are set.  No false negatives; false-positive
    rate ~ fill^k.  This is the VERIFICATION form (it shuffles the
    distinct probe keys once for the per-key AND); the pre-shuffle
    pruning form is ``bloom_prune``, which never shuffles the probe."""
    keys = df.select(F.col(key_col)).distinct()
    arr = F.array(*[
        F.struct(
            F.lit(j).alias("_j"),
            _pos(key_col, j, n_bits).alias("_pos"),
        )
        for j in range(n_hashes)
    ])
    probes = keys.select(
        key_col, F.explode(arr).alias("_e")
    ).select(key_col, F.col("_e._j").alias("_j"), F.col("_e._pos").alias("_pos"))
    # distinct defensively: duplicate _pos rows in a caller-supplied
    # bits frame would double-count a matched probe row and flip the
    # ==n_hashes test into a FALSE NEGATIVE — the one error class a
    # Bloom filter must never produce
    hit = probes.join(
        F.broadcast(
            bits.select("_pos").distinct().withColumn("_set", F.lit(1))
        ),
        "_pos",
        "left",
    )
    return hit.groupBy(key_col).agg(
        (F.sum(F.coalesce(F.col("_set"), F.lit(0))) == F.lit(n_hashes))
        .alias("maybe_member")
    )


def bloom_contains_sql(
    bits_rel: str, probe_pos_rel: str, key: str, n_hashes: int
) -> str:
    """DuckDB twin of bloom_contains over staged relations: bits
    (_pos) and probe positions (key, _j, _pos) — DuckDB has no xxhash64,
    so the positions are staged bytes, same policy as hll_sql/cms_sql."""
    return f"""
SELECT p.{key},
       (SUM(CASE WHEN b._pos IS NULL THEN 0 ELSE 1 END)
        = {n_hashes}) AS maybe_member
FROM (SELECT DISTINCT {key}, _j, _pos FROM {probe_pos_rel}) p
LEFT JOIN (SELECT DISTINCT _pos FROM {bits_rel}) b ON b._pos = p._pos
GROUP BY p.{key}
"""
