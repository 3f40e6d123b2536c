"""As-of join (operators/asof.py) vs a pure-Python nearest-prior oracle,
covering exact-timestamp ties, unmatched-left NULLs, and right-side
(key, ts) dedup."""

from __future__ import annotations

from cli_p_spark.operators.asof import asof_join, dedup_right_latest


def _py_asof(left, right):
    """left: (lid, key, t); right: (key, t, rid, val) unique per (key,t).
    Returns {lid: (rid, val) or (None, None)} for the latest right with
    t_r <= t_l on the same key."""
    out = {}
    for lid, k, t in left:
        cands = [(rt, rid, val) for (rk, rt, rid, val) in right
                 if rk == k and rt <= t]
        if cands:
            rt, rid, val = max(cands)
            out[lid] = (rid, val)
        else:
            out[lid] = (None, None)
    return out


def test_asof_join_matches_python_oracle(spark):
    left = [
        (1, "u1", 10), (2, "u1", 20), (3, "u1", 5),
        (4, "u2", 15), (5, "u2", 7),
        (6, "u3", 100),            # u3 has no right rows at all
        (7, "u1", 12),             # exact tie with right ts=12
    ]
    right = [
        ("u1", 8, 100, 1.5), ("u1", 12, 101, 2.5), ("u1", 19, 102, 3.5),
        ("u2", 7, 200, 9.0),       # exact tie with left id=5
    ]
    l = spark.createDataFrame(left, "event_id long, user_id string, ts long")
    r = spark.createDataFrame(
        right, "user_id string, ts long, event_id long, value double"
    )
    got = {
        row["event_id"]: (row["event_id_asof"], row["value_asof"])
        for row in asof_join(
            l, r, ["user_id"], "ts", ["event_id", "value"]
        ).collect()
    }
    assert got == _py_asof(left, right)
    # spot semantics: the tie row matched the same-ts right row (<=)
    assert got[7] == (101, 2.5)
    # no-prior and no-key rows are NULL, not dropped
    assert got[3] == (None, None) and got[6] == (None, None)
    assert len(got) == len(left)


def test_dedup_right_latest_picks_max_tiebreak(spark):
    rows = [("u1", 5, 1, 1.0), ("u1", 5, 9, 2.0), ("u1", 6, 3, 3.0)]
    r = spark.createDataFrame(
        rows, "user_id string, ts long, event_id long, value double"
    )
    got = sorted(
        (x["ts"], x["event_id"])
        for x in dedup_right_latest(
            r, ["user_id"], "ts", "event_id"
        ).collect()
    )
    assert got == [(5, 9), (6, 3)]


def test_asof_null_payload_stays_null(spark):
    """A matched right row's NULL payload field must NOT fall through to
    an older row's value (all payload fields come from the SAME matched
    row — the single-struct carry)."""
    left = [(1, "u1", 20), (2, "u1", 9)]
    right = [("u1", 8, 100, 2.0), ("u1", 12, 101, None)]
    l = spark.createDataFrame(left, "event_id long, user_id string, ts long")
    r = spark.createDataFrame(
        right, "user_id string, ts long, event_id long, value double"
    )
    got = {
        row["event_id"]: (row["event_id_asof"], row["value_asof"])
        for row in asof_join(
            l, r, ["user_id"], "ts", ["event_id", "value"]
        ).collect()
    }
    # left@20 matches right@12 whose value is NULL -> NULL, not 2.0
    assert got[1] == (101, None)
    assert got[2] == (100, 2.0)
