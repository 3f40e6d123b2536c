"""Behavioral analytics over event streams: ordered funnels and
retention cohorts.

Reference parity note: the reference engine (ps-auxw/CLI-P) answers
"what happened after X" questions by iterating query results in the
REPL (query-index.py:214-268); at corpus scale the equivalent analysis
is a funnel / cohort aggregation over the event log.  Both operators
here are pure Catalyst (no Python UDFs) and shuffle on the user key
exactly once (funnel) or twice (retention).

Funnel semantics (strict chained-min, per-step window):
  t_0 = min ts of a step-0 event for the user;
  t_i = min ts of a step-i event with ts > t_{i-1}
        (and ts - t_{i-1} <= window, when a window is given).
A user "reaches step i" iff t_i exists.  This is the classic
anchored-at-earliest funnel (each step anchored at the EARLIEST
occurrence after the previous step), the same definition DuckDB can
replay with k chained MIN() CTEs.

Scale shape: the naive chained-min form is k joins, i.e. k scans of the
event table — at 10^12 events that is k full shuffles.  `funnel_counts`
instead does ONE groupBy(user) shuffle, collects the user's (ts, step)
events sorted, and runs the chained-min recurrence as an `aggregate`
higher-order function over the sorted array: a single linear scan per
user, entirely inside whole-stage codegen.  The scan is provably
equivalent to the chained-min definition: when the scan is at an event
x with `reached` steps filled, acc[reached-1] was fixed before any
eligible step-`reached` event was visited (eligibility requires
x.t > acc[reached-1], and the array is time-sorted), so the first
eligible event the scan accepts IS the minimum — induction over steps.
Per-user state is k timestamps; hot users (many events) are bounded by
the collect_list array, the same bound sessionization already accepts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Fixed NTZ anchor: events carry TIMESTAMP_NTZ, and timestampdiff
# (MICROSECOND) against an NTZ literal is timezone-free on both engines
# (see contract.py events_lag_gap) — the funnel arithmetic is then pure
# int64 microseconds.
ANCHOR = "2024-01-01 00:00:00"


def _micros(ts_col: str) -> F.Column:
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '{ANCHOR}', {ts_col})"
    )


def _select_step_events(
    events: DataFrame,
    steps: list[str],
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """(_u, _t, _s): funnel-relevant events as integer micros + 0-based
    step index."""
    step_arr = F.array(*[F.lit(s) for s in steps])
    return events.filter(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("_u"),
        _micros(ts_col).alias("_t"),
        # 0-based step index via array_position (1-based, hence -1)
        (F.array_position(step_arr, F.col(type_col)) - 1)
        .cast("int")
        .alias("_s"),
    )


def _fold_sql(events_arr: str, init: str, window_us: int | None) -> str:
    """The chained-min recurrence as an `aggregate` HOF over a
    time-sorted array of (_t, _s) structs, starting from ``init`` (an
    acc expression — array<bigint> of length k, NULL = step unreached).
    `size(filter(acc, a -> a IS NOT NULL))` = steps reached so far (acc
    fills strictly left to right).  greatest(x._s, 1) keeps
    element_at's index valid when x._s = 0 (the branch is then decided
    by `x._s = 0 OR ...` — the element_at value is unused but must not
    raise)."""
    win = (
        f" AND x._t - element_at(acc, greatest(x._s, 1)) <= {window_us}L"
        if window_us is not None
        else ""
    )
    return f"""aggregate(
      {events_arr},
      {init},
      (acc, x) -> IF(
        x._s = size(filter(acc, a -> a IS NOT NULL))
        AND (x._s = 0
             OR (x._t > element_at(acc, greatest(x._s, 1)){win})),
        transform(acc, (a, i) -> IF(i = x._s, x._t, a)),
        acc))"""


def state_to_counts(state: DataFrame, steps: list[str]) -> DataFrame:
    """(step_idx, step_name, n_users) from per-user funnel state
    (_u, _acc); zero-user steps kept via the step spine."""
    k = len(steps)
    spark = state.sparkSession
    step_arr = F.array(*[F.lit(s) for s in steps])
    reached = (
        state.select(F.posexplode("_acc").alias("step_idx", "_t"))
        .filter(F.col("_t").isNotNull())
        .groupBy("step_idx")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    spine = spark.range(k).select(
        F.col("id").cast("int").alias("step_idx"),
        F.element_at(step_arr, F.col("id").cast("int") + 1).alias(
            "step_name"
        ),
    )
    return (
        spine.join(reached, "step_idx", "left")
        .select(
            "step_idx",
            "step_name",
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
        )
        .orderBy("step_idx")
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_us: int | None = None,
) -> DataFrame:
    """(step_idx, step_name, n_users) — users reaching each funnel step
    under strict chained-min semantics (module docstring).  One shuffle:
    groupBy(user) + sorted-array `aggregate` HOF; steps with zero users
    are kept (count 0) via a step spine."""
    k = len(steps)
    if k == 0:
        raise ValueError("steps must be non-empty")
    filtered = _select_step_events(
        events, steps, user_col, ts_col, type_col
    )
    acc_expr = _fold_sql(
        "array_sort(collect_list(struct(_t, _s)))",
        f"array_repeat(CAST(NULL AS BIGINT), {k})",
        window_us,
    )
    per_user = filtered.groupBy("_u").agg(F.expr(acc_expr).alias("_acc"))
    return state_to_counts(per_user, steps)


def funnel_counts_chained(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_us: int | None = None,
) -> DataFrame:
    """The k-join chained-min reference implementation of the SAME
    semantics (one groupBy + one join per step).  Kept as the
    equivalence gate for `funnel_counts` (tests) and as the form whose
    SQL transliteration is the DuckDB oracle — NOT the scale path."""
    k = len(steps)
    spark = events.sparkSession
    ev = events.filter(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("_u"),
        _micros(ts_col).alias("_t"),
        F.col(type_col).alias("_ty"),
    )
    cur = (
        ev.filter(F.col("_ty") == steps[0])
        .groupBy("_u")
        .agg(F.min("_t").alias("_prev"))
    )
    counts = [cur.count()]
    for i in range(1, k):
        cand = ev.filter(F.col("_ty") == steps[i]).join(cur, "_u")
        cond = F.col("_t") > F.col("_prev")
        if window_us is not None:
            cond = cond & (
                F.col("_t") - F.col("_prev") <= F.lit(window_us)
            )
        cur = (
            cand.filter(cond)
            .groupBy("_u")
            .agg(F.min("_t").alias("_prev"))
        )
        counts.append(cur.count())
    rows = [(i, steps[i], counts[i]) for i in range(k)]
    return spark.createDataFrame(
        rows, "step_idx int, step_name string, n_users bigint"
    )


def funnel_sql(
    events_rel: str,
    steps: list[str],
    window_us: int | None = None,
) -> str:
    """DuckDB twin of funnel_counts: the chained-min CTE form
    (provably the same semantics — module docstring).  Integer
    microsecond arithmetic against the same NTZ anchor; output
    (step_idx, step_name, n_users), zero-kept."""
    names = ", ".join(f"'{s}'" for s in steps)
    case = "CASE event_type " + " ".join(
        f"WHEN '{s}' THEN {i}" for i, s in enumerate(steps)
    ) + " END"
    parts = [
        f"""ev AS (
  SELECT user_id AS u,
         date_diff('microsecond', TIMESTAMP '{ANCHOR}', ts) AS t,
         {case} AS s
  FROM {events_rel} WHERE event_type IN ({names}))""",
        "f0 AS (SELECT u, MIN(t) AS prev FROM ev WHERE s = 0 GROUP BY u)",
    ]
    for i in range(1, len(steps)):
        win = (
            f" AND e.t - f.prev <= {window_us}"
            if window_us is not None
            else ""
        )
        parts.append(
            f"""f{i} AS (
  SELECT e.u, MIN(e.t) AS prev
  FROM ev e JOIN f{i - 1} f ON e.u = f.u
  WHERE e.s = {i} AND e.t > f.prev{win}
  GROUP BY e.u)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step_idx, '{s}' AS step_name, "
        f"(SELECT COUNT(*) FROM f{i}) AS n_users"
        for i, s in enumerate(steps)
    )
    return (
        "WITH " + ",\n".join(parts) + f"\n{selects}\nORDER BY step_idx"
    )


# --- retention cohorts -------------------------------------------------

# Monday on/before the first event of the driver corpus (2024-01-01 IS
# a Monday): week index = floor(days-since-anchor / 7) — pure integer,
# no engine week-truncation semantics involved.
WEEK_ANCHOR = "2024-01-01"


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(cohort_week, week_offset, n_users): classic retention triangle —
    users bucketed by the week of their first event; n_users = how many
    of them were active week_offset weeks later.  Two shuffles total
    (distinct over (user, week) co-partitions the min-week agg and the
    final count), integer outputs only.  week_offset 0 row = cohort
    size, so retention RATE is derivable downstream without floats."""
    wk = events.select(
        F.col(user_col).alias("_u"),
        F.floor(
            F.datediff(
                F.col(ts_col).cast("date"), F.lit(WEEK_ANCHOR).cast("date")
            )
            / 7
        ).alias("week"),
    ).distinct()
    coh = wk.groupBy("_u").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(coh, "_u")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def retention_sql(events_rel: str) -> str:
    """DuckDB twin of retention_cohorts (same integer week index)."""
    return f"""
WITH wk AS (
  SELECT DISTINCT user_id AS u,
         CAST(FLOOR(date_diff('day', DATE '{WEEK_ANCHOR}',
                              CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
  FROM {events_rel}),
coh AS (SELECT u, MIN(week) AS cohort_week FROM wk GROUP BY u)
SELECT coh.cohort_week, wk.week - coh.cohort_week AS week_offset,
       COUNT(*) AS n_users
FROM wk JOIN coh ON wk.u = coh.u
GROUP BY 1, 2 ORDER BY 1, 2
"""
