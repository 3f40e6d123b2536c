"""As-of (nearest-prior) join — the time-series operator Spark lacks.

For each left row, attach the payload of the LATEST right row with the
same key and ``right.ts <= left.ts`` (DuckDB/QuestDB/pandas `ASOF JOIN`
semantics, inclusive).  The naive Spark spellings are both wrong at
scale: a theta join `l.ts >= r.ts` explodes to a per-key cross product
before the max-filter, and a per-key `applyInPandas` merge_asof drops
to Python.  The scalable spelling is the union-window trick:

    union(left tagged 1, right tagged 0)
      -> window per key ordered by (ts, tag)
      -> last(right payload, ignorenulls) carried forward
      -> keep left rows

ONE shuffle (the window partitionBy), zero Python, state = one row of
carried payload per key — linear in |L|+|R|.  Window partitions are
per-key event histories (bounded); skewed hot keys are a watermark-range
problem, not a cross-product one.  A PATHOLOGICAL key (a null/default
user id owning 10^8 events) serializes its window partition into a
single linear task: it completes, but at parallelism 1 for that key.

Tie semantics: a right row AT the left row's exact timestamp matches
(<=, tag 0 sorts before tag 1).  The right side must be unique per
(key, ts) — like DuckDB's ASOF JOIN, whose behavior on duplicate right
timestamps is unspecified; `dedup_right_latest` provides the
deterministic reduction (max tiebreak column wins)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_right_latest(
    right: DataFrame, key_cols: list[str], ts_col: str, tiebreak_col: str
) -> DataFrame:
    """One right row per (key, ts): the row with the greatest
    ``tiebreak_col`` (deterministic when the tiebreak is unique)."""
    w = Window.partitionBy(*key_cols, ts_col).orderBy(
        F.col(tiebreak_col).desc()
    )
    return (
        right.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str,
    payload_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Left as-of join: every left row, plus ``payload_cols`` of the
    latest right row with right.ts <= left.ts on the same key (NULLs
    when no prior right row exists).  Right must be unique per
    (key, ts) — see dedup_right_latest."""
    # ALL payload columns ride in ONE struct carried by a single
    # last(ignorenulls) — carrying each column separately would let a
    # matched row's NULL payload field fall through to an OLDER row's
    # value (and different fields could then come from different right
    # rows), diverging from ASOF semantics.  The struct itself is
    # non-null whenever a right row exists, so NULL fields stay NULL.
    tagged_r = right.select(
        *key_cols,
        F.col(ts_col).alias(ts_col),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_r"),
    ).withColumn("_tag", F.lit(0))
    tagged_l = left.withColumn("_tag", F.lit(1))
    u = tagged_l.unionByName(tagged_r, allowMissingColumns=True)

    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last(F.col("_r"), ignorenulls=True).over(w)
    carried = [
        matched.getField(c).alias(f"{c}{suffix}") for c in payload_cols
    ]
    return (
        u.select("*", *carried)
        .filter(F.col("_tag") == 1)
        .drop("_tag", "_r")
    )
