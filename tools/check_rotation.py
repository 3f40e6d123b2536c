"""Mechanical check of the registry rotation policy (the QUERIES comment
in plans/contract.py): run by tests/test_contract.py every pytest run, so
the window accounting cannot silently rot.

Policy being enforced:
  - the external driver audits only the FIRST 50 registry entries;
  - every entry must have a driver CORRECTNESS row (rows+schema+hash all
    green) within the last TWO driver records, OR sit in the current
    window (it will get its row this round), OR be an explicitly
    documented SLIPPED entry — and a slipped entry must still be green
    within the last THREE records (the amended every-third-round bound);
  - an entry with NO driver row ever must be in the current window.

The check reads the committed CORRECTNESS_r*.json records at the repo
root, so it tracks the real external audit trail, not a self-report.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50

# entries documented as slipping past the window for ONE round (see the
# QUERIES rotation comment for the per-entry criterion); they MUST enter
# the window next round — this list must shrink to empty or turn over.
# Round 8: twenty-one r5-greens that the 65-owed-for-50-slots arithmetic
# pushes out (60 owed by the records, plus five tail entries whose code
# changed: q1_pricing_summary and curate_training_corpus, then
# minhash_dedup_pairs, simhash_dedup_pairs and part_name_fuzzy_pairs
# when their buckets moved onto the shared pair kernel); sixteen are
# driver-green r1, r2, r3 and r5, two r2, r3 and r5, then
# doc_tfidf_keywords (r3, r5), cms_join_size_orders (r4, r5) and
# hll_small_range_users (r5).  Each is byte-identical since r5 and
# witnessed in-window or by an r7-green entry.
SLIPPED: set[str] = {
    "filter_project_pushdown",
    "doc_ngram_jaccard_pairs",
    "doc_fingerprint_dedup",
    "doc_lang_id",
    "doc_quality_composite",
    "join_broadcast_dims",
    "semi_join_customers_with_orders",
    "anti_join_customers_without_orders",
    "window_topk_orders_per_cust",
    "union_dedup_nationkeys",
    "rollup_lineitem_flags",
    "events_user_activity",
    "events_lag_gap",
    "range_join_ship_lag",
    "doc_quality_score",
    "embedding_norm_stats",
    "doc_winnow_neardup",
    "doc_bpe_token_stats",
    "doc_tfidf_keywords",
    "cms_join_size_orders",
    "hll_small_range_users",
}


def _green_sets() -> list[tuple[int, set[str]]]:
    """[(round, {fully-green entry names})] sorted ascending by round."""
    out = []
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rec = json.load(f)
        if not isinstance(rec, dict):
            continue
        green = {
            name
            for name, row in rec.items()
            if isinstance(row, dict)
            and row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        }
        out.append((int(m.group(1)), green))
    return sorted(out)


def check() -> list[str]:
    """Returns a list of violations (empty == policy holds)."""
    import sys

    sys.path.insert(0, REPO)
    from cli_p_spark.plans.contract import ORACLES, QUERIES

    problems: list[str] = []
    if set(QUERIES) != set(ORACLES):
        missing = set(QUERIES) ^ set(ORACLES)
        problems.append(f"QUERIES/ORACLES key parity broken: {sorted(missing)}")

    records = _green_sets()
    if not records:
        return problems  # fresh clone without driver records: nothing to check
    last_two = set().union(*(g for _, g in records[-2:]))
    last_three = set().union(*(g for _, g in records[-3:]))
    ever = set().union(*(g for _, g in records))

    names = list(QUERIES)
    window = set(names[:WINDOW])
    for name in names[WINDOW:]:
        if name in window:
            continue
        if name in last_two:
            continue
        if name in SLIPPED:
            if name not in last_three:
                problems.append(
                    f"slipped entry {name!r} has no green driver row in the "
                    f"last three records — the every-third-round bound broke"
                )
            continue
        if name not in ever:
            problems.append(
                f"entry {name!r} has never been driver-audited and is not "
                f"in the 50-entry window"
            )
        else:
            problems.append(
                f"tail entry {name!r} has no green driver row in the last "
                f"two records and is not documented as slipped"
            )
    return problems


if __name__ == "__main__":
    import sys

    probs = check()
    for p in probs:
        print("VIOLATION:", p)
    print(f"rotation policy: {'OK' if not probs else f'{len(probs)} violations'}")
    sys.exit(1 if probs else 0)
