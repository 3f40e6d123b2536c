"""Funnel + retention (operators/funnel.py): the single-shuffle HOF
funnel must agree with the k-join chained-min reference implementation
on adversarial inputs (ties, window expiry, re-entry, out-of-order
rows), and retention's week-0 row must equal the cohort size."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cli_p_spark.operators.funnel import (
    funnel_counts,
    funnel_counts_chained,
    retention_cohorts,
)

BASE = dt.datetime(2024, 1, 1)


def _ev(spark, rows):
    # rows: (user, seconds-offset, type)
    data = [
        (u, BASE + dt.timedelta(seconds=s), ty) for (u, s, ty) in rows
    ]
    return spark.createDataFrame(
        data, "user_id bigint, ts timestamp_ntz, event_type string"
    )


def _counts(df):
    return {
        r["step_idx"]: r["n_users"]
        for r in df.orderBy("step_idx").collect()
    }


STEPS = ["view", "click", "purchase"]


def test_funnel_basic_and_anchoring(spark):
    rows = [
        # u1 completes all three in order
        (1, 0, "view"), (1, 10, "click"), (1, 20, "purchase"),
        # u2: purchase BEFORE click — must not count step 3
        (2, 0, "view"), (2, 5, "purchase"), (2, 10, "click"),
        # u3: anchored at FIRST view (t=0); click at t=3 counts even
        # though a later view (t=5) exists
        (3, 0, "view"), (3, 5, "view"), (3, 3, "click"),
        # u4: click only — no view, counts nowhere
        (4, 0, "click"),
    ]
    ev = _ev(spark, rows)
    got = _counts(funnel_counts(ev, STEPS))
    assert got == {0: 3, 1: 3, 2: 1}
    ref = _counts(funnel_counts_chained(ev, STEPS))
    assert got == ref


def test_funnel_strict_gt_and_window(spark):
    rows = [
        # u1: click at the SAME timestamp as view — strict > excludes it
        (1, 0, "view"), (1, 0, "click"),
        # u2: click 100s after view; window 50s excludes, no window keeps
        (2, 0, "view"), (2, 100, "click"),
        # u3: within window
        (3, 0, "view"), (3, 30, "click"), (3, 40, "purchase"),
    ]
    ev = _ev(spark, rows)
    no_win = _counts(funnel_counts(ev, STEPS))
    assert no_win == {0: 3, 1: 2, 2: 1}
    win = _counts(funnel_counts(ev, STEPS, window_us=50 * 1_000_000))
    assert win == {0: 3, 1: 2, 2: 1} or win == {0: 3, 1: 1, 2: 1}
    # exact: u2 excluded by the 50s window, u3's 30s/10s gaps fit
    assert win == {0: 3, 1: 1, 2: 1}
    for w in (None, 50 * 1_000_000):
        assert _counts(funnel_counts(ev, STEPS, window_us=w)) == _counts(
            funnel_counts_chained(ev, STEPS, window_us=w)
        )


def test_funnel_equivalence_on_events_table(spark, sf_dir=None):
    import os

    d = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    ev = spark.read.parquet(f"{d}/events.parquet")
    for w in (None, 3600 * 1_000_000):
        hof = _counts(funnel_counts(ev, STEPS, window_us=w))
        ref = _counts(funnel_counts_chained(ev, STEPS, window_us=w))
        assert hof == ref
    # zero-kept spine: impossible step still emits a row
    got = funnel_counts(ev, ["view", "no_such_event"]).collect()
    assert [r["n_users"] for r in sorted(got, key=lambda r: r["step_idx"])][
        1
    ] == 0


def test_retention_week0_equals_cohort_size(spark):
    rows = [
        (1, 0, "view"),
        (1, 8 * 86400, "click"),          # week 1
        (2, 0, "view"),                   # week 0 only
        (3, 7 * 86400, "view"),           # cohort week 1
        (3, 21 * 86400, "purchase"),      # week 3 -> offset 2
    ]
    ev = _ev(spark, rows)
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    assert got == {(0, 0): 2, (0, 1): 1, (1, 0): 1, (1, 2): 1}
    # week-0 row of each cohort == cohort size (every user is active in
    # their own first week by construction)
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min("ts"))
        .count()
    )
    assert sum(n for (c, o), n in got.items() if o == 0) == firsts


def test_funnel_plan_single_shuffle(spark):
    """Scale gate: the HOF funnel shuffles the event rows ONCE (the
    groupBy(user) aggregate).  The step spine join is a broadcast of k
    rows and the final count agg shuffles k rows, not events."""
    import os

    d = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    ev = spark.read.parquet(f"{d}/events.parquet")
    out = funnel_counts(ev, STEPS, window_us=3600 * 1_000_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no per-row Python anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the event-volume exchange appears exactly once: hashpartitioning
    # on the user key; remaining exchanges operate on <= k rows
    assert plan.count("hashpartitioning(_u") == 1
