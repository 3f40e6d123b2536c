"""Cardinality sketching as pure DataFrame ops — a deterministic
HyperLogLog (Flajolet et al. 2007) built from xxhash64 + integer
register math.

Spark's built-in `approx_count_distinct` IS HyperLogLog++ and is the
right tool in production (JVM, partial-aggregating, mergeable).  What it
cannot be is cross-engine verified: its register layout and bias tables
are implementation-private.  This sketch exists to make the sketch
FAMILY first-class and checkable: every step — bucket split, rank
(leading-zero) extraction, per-bucket max, harmonic sum — is a Catalyst
expression over xxhash64, and the final estimate is ONE f64 division of
integer-exact operands, so Spark, DuckDB (replaying the staged hashes),
and a pure-Python loop produce the IDENTICAL estimate bit-for-bit.

Integer-exactness trick: the harmonic term sum(2^-M_j) is kept as the
INTEGER sum(2^(RANK_CAP - M_j)) (RANK_CAP = 40; ranks above it are
astronomically rare — p < m·2^-40 per distinct — and capping only
rounds the harmonic term by < 2^-40 relative).  alpha_m * m^2 * 2^40 is
precomputed in Python and injected as the same f64 literal on both
engines.  No libm anywhere (the standard small-range linear-counting
correction needs ln(); it is intentionally omitted — callers wanting
small-cardinality precision should use exact count_distinct, and the
accuracy gate in tests covers the uncorrected regime).

Scale shape: one groupBy (group_cols, bucket) with map-side partial
max — shuffle rows = groups × m regardless of input size; sketches are
mergeable by construction (max of register maxes)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_CAP = 40


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_from_hashes(
    df: DataFrame,
    hash_col: str,
    group_cols: list[str] | None = None,
    log2m: int = 10,
) -> DataFrame:
    """Register pipeline over precomputed 64-bit hashes — split out so a
    staged-parquet oracle can replay the exact same hash bytes (DuckDB
    has no xxhash64)."""
    gcols = list(group_cols or [])
    m = 1 << log2m
    est_num = repr(_alpha(m) * m * m * float(1 << RANK_CAP))

    h = F.col(hash_col)
    # low log2m bits pick the register; the NEXT 63-log2m bits feed the
    # rank.  Shift into the positive range first (Java longs are signed).
    bucket = F.pmod(h, F.lit(m))
    rest = F.shiftrightunsigned(h, log2m)
    # rank = leading position of the first 1-bit in `rest` scanning from
    # the least-significant side == number of trailing zeros + 1, capped.
    # trailing zeros via bit trick: rest & -rest isolates the lowest set
    # bit; log2 of a power of two == 63 - leading zeros, but Catalyst
    # lacks clz — use bit_count((rest & -rest) - 1) = index of that bit.
    lowest = rest.bitwiseAND(-rest)
    rank = F.when(rest == 0, F.lit(RANK_CAP)).otherwise(
        F.least(F.bit_count(lowest - 1) + 1, F.lit(RANK_CAP))
    )
    regs = (
        df.select(*gcols, bucket.alias("_b"), rank.alias("_r"))
        .groupBy(*gcols, "_b")
        .agg(F.max("_r").alias("_m"))
    )
    # integer harmonic term: registers never seen contribute 2^RANK_CAP
    # each (rank 0), i.e. (m - observed) * 2^RANK_CAP added to the sum
    seen = regs.groupBy(*gcols).agg(
        F.sum(F.expr(f"shiftleft(1L, {RANK_CAP} - _m)")).alias("_s"),
        F.count(F.lit(1)).alias("_nb"),
    )
    total = F.col("_s") + (F.lit(m) - F.col("_nb")) * F.lit(1 << RANK_CAP)
    return seen.select(
        *gcols,
        (F.lit(float(est_num)) / total.cast("double")).alias(
            "hll_estimate"
        ),
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    qs: tuple[float, ...] = (0.5, 0.95),
    bins: int = 256,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """(group_cols..., q, quantile_est) — approximate quantiles from a
    fixed-range equi-width histogram, the float-drift-free alternative
    to t-digest/GK sketches: the histogram is an INTEGER object (bin
    counts), so it shuffles as groups × bins rows regardless of input
    size, merges by addition, and the only float work is one injected
    bin-width literal plus a fixed interpolation expression tree —
    identical on any engine.  Error bound: one bin width.

    ``lo``/``hi`` fix the range up front (the streaming/mergeable form;
    out-of-range values clamp into the end bins — choose a generous
    range, accuracy degrades only via wasted bins).  Estimate: linear
    interpolation within the first bin whose cumulative count reaches
    q*n.

    NULL values are EXCLUDED before binning (here and in the SQL twin):
    binning NULL would create a NULL _bin group that still counts toward
    n while the two engines order NULL bins differently in the
    cumulative window (Spark NULLS FIRST, DuckDB NULLS LAST), silently
    skewing and diverging the estimates."""
    gcols = list(group_cols or [])
    width = repr((hi - lo) / bins)
    x = F.col(value_col).cast("double")
    b = F.least(
        F.greatest(
            F.floor((x - F.lit(float(repr(lo)))) / F.lit(float(width))),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .select(*gcols, b.alias("_bin"))
        .groupBy(*gcols, "_bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    from pyspark.sql import Window

    wc = (
        Window.partitionBy(*gcols)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(*gcols)
    hist = hist.withColumn("_cum", F.sum("_cnt").over(wc)).withColumn(
        "_n", F.sum("_cnt").over(wn)
    )
    spark = df.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    hit = hist.crossJoin(F.broadcast(qdf)).filter(
        F.col("_cum").cast("double") >= F.col("q") * F.col("_n")
    )
    first = hit.groupBy(*gcols, "q").agg(
        F.min("_bin").alias("_b"),
        F.min_by("_cum", "_bin").alias("_c"),
        F.min_by("_cnt", "_bin").alias("_k"),
        F.max("_n").alias("_nn"),
    )
    frac = (
        F.col("q") * F.col("_nn") - (F.col("_c") - F.col("_k"))
    ) / F.col("_k")
    est = F.lit(float(repr(lo))) + F.lit(float(width)) * (
        F.col("_b") + frac
    )
    return first.select(*gcols, "q", est.alias("quantile_est"))


def histogram_quantiles_sql(
    source_rel: str,
    value_col: str,
    group_cols: list[str] | None = None,
    qs: tuple[float, ...] = (0.5, 0.95),
    bins: int = 256,
    lo: float = 0.0,
    hi: float = 1.0,
) -> str:
    """DuckDB twin of histogram_quantiles — same injected width literal,
    same interpolation expression tree (windowed SUMs cast back to
    BIGINT: DuckDB widens to HUGEINT)."""
    gcols = list(group_cols or [])
    width = repr((hi - lo) / bins)
    lor = repr(lo)
    gsel = "".join(f"{c}, " for c in gcols)
    part = ("PARTITION BY " + ", ".join(gcols)) if gcols else ""
    # CAST each q: a bare 0.5 literal is DECIMAL(3,2) in DuckDB, which
    # silently switches q*n to decimal arithmetic (diverges from Spark's
    # double tree in both repr and rounding)
    qlist = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
WITH binned AS (
  SELECT {gsel}
         LEAST(GREATEST(CAST(FLOOR((CAST({value_col} AS DOUBLE) - {lor})
                                   / {width}) AS BIGINT), 0),
               {bins - 1}) AS bin
  FROM {source_rel}
  WHERE {value_col} IS NOT NULL),
hist AS (SELECT {gsel} bin, COUNT(*) AS cnt FROM binned
         GROUP BY {gsel} bin),
cum AS (
  SELECT {gsel} bin, cnt,
         CAST(SUM(cnt) OVER ({part} ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS c,
         CAST(SUM(cnt) OVER ({part}) AS BIGINT) AS n
  FROM hist),
hit AS (
  SELECT {gsel} q, bin, cnt, c, n
  FROM cum CROSS JOIN (SELECT unnest([{qlist}]) AS q)
  WHERE CAST(c AS DOUBLE) >= q * n),
first AS (
  SELECT {gsel} q, MIN(bin) AS b, MIN_BY(c, bin) AS c,
         MIN_BY(cnt, bin) AS k, MAX(n) AS nn
  FROM hit GROUP BY {gsel} q)
SELECT {gsel} q,
       {lor} + {width} * (b + (q * nn - (c - k)) / k) AS quantile_est
FROM first
"""


def hll_sql(
    source_rel: str,
    key_hash_col: str,
    group_cols: list[str] | None = None,
    log2m: int = 10,
) -> str:
    """DuckDB twin over a relation that already carries the xxhash64
    value (stage it — DuckDB has no xxhash64): same bucket/rank/register
    pipeline, same integer harmonic sum, same injected f64 constant."""
    gcols = list(group_cols or [])
    m = 1 << log2m
    est_num = repr(_alpha(m) * m * m * float(1 << RANK_CAP))
    gsel = "".join(f"{c}, " for c in gcols)
    gby = ("GROUP BY " + ", ".join(gcols)) if gcols else ""
    return f"""
WITH hashed AS (
  SELECT {gsel}
         {key_hash_col} % {m} + CASE WHEN {key_hash_col} % {m} < 0
                                     THEN {m} ELSE 0 END AS b,
         ({key_hash_col} >> {log2m}) & {(1 << (64 - log2m)) - 1} AS rest
  FROM {source_rel}),
ranked AS (
  SELECT {gsel} b,
         CASE WHEN rest = 0 THEN {RANK_CAP}
              ELSE LEAST(bit_count((rest & -rest) - 1) + 1, {RANK_CAP})
         END AS r
  FROM hashed),
regs AS (SELECT {gsel} b, MAX(r) AS mr FROM ranked GROUP BY {gsel} b),
s AS (
  SELECT {gsel}
         CAST(SUM(1::BIGINT << ({RANK_CAP} - mr)) AS BIGINT) AS sm,
         COUNT(*) AS nb
  FROM regs {gby})
SELECT {gsel}
       {est_num} / CAST(sm + ({m} - nb) * (1::BIGINT << {RANK_CAP})
                        AS DOUBLE) AS hll_estimate
FROM s
"""


# --- Count-Min frequency sketch (Cormode & Muthukrishnan 2005) ---------
#
# Same design policy as the HLL above: the sketch is an INTEGER object
# (depth x width counter matrix as (j, pos, count) rows), built and
# probed with pure Catalyst expressions over xxhash64, so Spark, DuckDB
# (replaying staged positions) and a pure-Python loop agree bit-for-bit.
# Guarantees: estimate >= true count always (no false negatives in the
# heavy-hitter sense); overestimate <= 2N/width with prob 1 - 2^-depth.
# Scale shape: the sketch is groups-free groupBy(j, pos) with map-side
# partial counts — shuffle rows <= depth*width REGARDLESS of input rows;
# merge = counter addition (associative), so per-partition / per-day
# sketches combine by union + re-agg.


def cms_positions(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    out_key: str = "_k",
) -> DataFrame:
    """(out_key, _j, _pos): the ``depth`` counter positions of each
    input row — row j uses xxhash64(j, key) mod width.  Split out so a
    staged-parquet oracle can replay the exact bytes (DuckDB has no
    xxhash64)."""
    arr = F.array(*[
        F.struct(
            F.lit(j).alias("_j"),
            F.pmod(
                F.xxhash64(F.lit(j), F.col(key_col)), F.lit(width)
            ).alias("_pos"),
        )
        for j in range(depth)
    ])
    return df.select(
        F.col(key_col).alias(out_key), F.explode(arr).alias("_e")
    ).select(out_key, F.col("_e._j").alias("_j"), F.col("_e._pos").alias("_pos"))


def cms_estimate(
    corpus_positions: DataFrame,
    candidate_positions: DataFrame,
    key: str = "_k",
) -> DataFrame:
    """(key, cms_count): Count-Min estimate for each distinct candidate
    key — min over depth rows of the counter each position lands in
    (0 when nothing ever hit that counter)."""
    sketch = corpus_positions.groupBy("_j", "_pos").agg(
        F.count(F.lit(1)).alias("_c")
    )
    cand = candidate_positions.select(key, "_j", "_pos").distinct()
    return (
        cand.join(sketch, ["_j", "_pos"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("_c"), F.lit(0))).alias("cms_count"))
    )


def cms_sql(
    corpus_pos_rel: str, cand_pos_rel: str, key: str = "k"
) -> str:
    """DuckDB twin of cms_estimate over staged position relations
    (corpus: (_j,_pos); candidates: (key,_j,_pos))."""
    return f"""
SELECT c.{key}, CAST(MIN(COALESCE(s.c, 0)) AS BIGINT) AS cms_count
FROM (SELECT DISTINCT {key}, _j, _pos FROM {cand_pos_rel}) c
LEFT JOIN (SELECT _j, _pos, COUNT(*) AS c FROM {corpus_pos_rel}
           GROUP BY _j, _pos) s
  ON s._j = c._j AND s._pos = c._pos
GROUP BY c.{key}
"""


def cms_join_size(
    pos_a: DataFrame, pos_b: DataFrame
) -> DataFrame:
    """ONE-row (join_size_est) estimate of |A ⋈ B| on the sketched key —
    the Count-Min inner-product estimator (Cormode & Muthukrishnan 2005
    §4.2): for each depth row j, sum over positions of cntA * cntB;
    estimate = min over j.  Never underestimates; error <= |A||B|/width
    per row w.h.p.  The join-cardinality oracle a cost-based planner
    wants BEFORE committing to a shuffle strategy at 100 TB — computed
    from two sketches whose size is depth x width regardless of table
    size, mergeable across partitions/days by addition.

    Inputs are cms_positions outputs (same depth, width, key type on
    both sides).  A depth row whose sketches share NO counter position
    contributes inner product 0 (the true estimate for disjoint key
    sets with no collisions) — the per-j sum is taken over a spine of
    every _j present in either input, not only over overlapping
    positions, so the min can reach 0 instead of silently dropping
    zero-overlap rows (and two fully disjoint sketches estimate 0,
    not NULL)."""
    sa = pos_a.groupBy("_j", "_pos").agg(F.count(F.lit(1)).alias("_ca"))
    sb = pos_b.groupBy("_j", "_pos").agg(F.count(F.lit(1)).alias("_cb"))
    spine = (
        pos_a.select("_j").unionByName(pos_b.select("_j")).distinct()
    )
    overlap = (
        sa.join(sb, ["_j", "_pos"])
        .groupBy("_j")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_ip"))
    )
    per_row = spine.join(overlap, ["_j"], "left").select(
        F.coalesce(F.col("_ip"), F.lit(0)).alias("_ip")
    )
    return per_row.agg(
        F.coalesce(F.min("_ip"), F.lit(0)).cast("long").alias("join_size_est")
    )


def cms_join_size_sql(pos_a_rel: str, pos_b_rel: str) -> str:
    """DuckDB twin of cms_join_size over staged position relations —
    same depth-spine + COALESCE(0) semantics as the operator."""
    return f"""
SELECT CAST(COALESCE(MIN(COALESCE(o.ip, 0)), 0) AS BIGINT) AS join_size_est
FROM (SELECT _j FROM {pos_a_rel}
      UNION SELECT _j FROM {pos_b_rel}) spine
LEFT JOIN (
  SELECT a._j, SUM(a.ca * b.cb) AS ip
  FROM (SELECT _j, _pos, COUNT(*) AS ca FROM {pos_a_rel}
        GROUP BY _j, _pos) a
  JOIN (SELECT _j, _pos, COUNT(*) AS cb FROM {pos_b_rel}
        GROUP BY _j, _pos) b
    ON a._j = b._j AND a._pos = b._pos
  GROUP BY a._j) o ON o._j = spine._j
"""


# --- HLL small-range (linear counting) correction ----------------------
#
# Flajolet et al. 2007 §4: below n ~ 2.5m the raw HLL estimator is
# biased high; when empty registers remain, the linear-counting
# estimate  m * ln(m / V)  (V = number of EMPTY registers) is the MLE
# and cuts small-range error from ~30%+ to ~1%.  Portability note: ln
# is the one transcendental in this family — Math.log (JVM) and libm
# log agree to <=1 ulp but are not guaranteed bit-identical, so the
# corrected estimate is ROUND(..., 3)ed on BOTH engines; a 1-ulp input
# wobble (~1e-13 relative) flips a 3-dp rounding only on an exact
# .0005 boundary, which a transcendental of a small-integer rational
# never hits.  Everything else stays integer-exact (same register
# pipeline as hll_from_hashes above, untouched).


def hll_corrected_from_hashes(
    df: DataFrame,
    hash_col: str,
    group_cols: list[str] | None = None,
    log2m: int = 10,
) -> DataFrame:
    """Same staged-hash discipline as hll_from_hashes: DuckDB replays
    the exact bytes (no xxhash64 there)."""
    gcols = list(group_cols or [])
    m = 1 << log2m
    est_num = repr(_alpha(m) * m * m * float(1 << RANK_CAP))

    h = F.col(hash_col)
    bucket = F.pmod(h, F.lit(m))
    rest = F.shiftrightunsigned(h, log2m)
    lowest = rest.bitwiseAND(-rest)
    rank = F.when(rest == 0, F.lit(RANK_CAP)).otherwise(
        F.least(F.bit_count(lowest - 1) + 1, F.lit(RANK_CAP))
    )
    regs = (
        df.select(*gcols, bucket.alias("_b"), rank.alias("_r"))
        .groupBy(*gcols, "_b")
        .agg(F.max("_r").alias("_m"))
    )
    seen = regs.groupBy(*gcols).agg(
        F.sum(F.expr(f"shiftleft(1L, {RANK_CAP} - _m)")).alias("_s"),
        F.count(F.lit(1)).alias("_nb"),
    )
    total = F.col("_s") + (F.lit(m) - F.col("_nb")) * F.lit(1 << RANK_CAP)
    raw = F.lit(float(est_num)) / total.cast("double")
    v_empty = F.lit(m) - F.col("_nb")  # V = empty registers
    use_linear = (raw <= F.lit(2.5 * m)) & (v_empty > 0)
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double"))
    return seen.select(
        *gcols,
        F.when(use_linear, F.lit("linear"))
        .otherwise(F.lit("raw"))
        .alias("method"),
        F.round(F.when(use_linear, linear).otherwise(raw), 3).alias(
            "hll_estimate"
        ),
    )


def hll_corrected_sql(
    source_rel: str,
    key_hash_col: str,
    group_cols: list[str] | None = None,
    log2m: int = 10,
) -> str:
    """DuckDB twin of hll_corrected_from_hashes over staged hashes."""
    gcols = list(group_cols or [])
    m = 1 << log2m
    est_num = repr(_alpha(m) * m * m * float(1 << RANK_CAP))
    gsel = "".join(f"{c}, " for c in gcols)
    gby = ("GROUP BY " + ", ".join(gcols)) if gcols else ""
    return f"""
WITH hashed AS (
  SELECT {gsel}
         {key_hash_col} % {m} + CASE WHEN {key_hash_col} % {m} < 0
                                     THEN {m} ELSE 0 END AS b,
         ({key_hash_col} >> {log2m}) & {(1 << (64 - log2m)) - 1} AS rest
  FROM {source_rel}),
ranked AS (
  SELECT {gsel} b,
         CASE WHEN rest = 0 THEN {RANK_CAP}
              ELSE LEAST(bit_count((rest & -rest) - 1) + 1, {RANK_CAP})
         END AS r
  FROM hashed),
regs AS (SELECT {gsel} b, MAX(r) AS mr FROM ranked GROUP BY {gsel} b),
s AS (
  SELECT {gsel}
         CAST(SUM(1::BIGINT << ({RANK_CAP} - mr)) AS BIGINT) AS sm,
         COUNT(*) AS nb
  FROM regs {gby}),
est AS (
  SELECT {gsel}
         {est_num} / CAST(sm + ({m} - nb) * (1::BIGINT << {RANK_CAP})
                          AS DOUBLE) AS raw,
         {m} - nb AS v
  FROM s)
SELECT {gsel}
       CASE WHEN raw <= {2.5 * m!r} AND v > 0 THEN 'linear'
            ELSE 'raw' END AS method,
       ROUND(CASE WHEN raw <= {2.5 * m!r} AND v > 0
                  THEN {float(m)!r} * ln({float(m)!r} / CAST(v AS DOUBLE))
                  ELSE raw END, 3) AS hll_estimate
FROM est
"""
