"""Curation plan: quality floor, lang filter, exact + near-dup dedup."""

from cli_p_spark.plans.curate import curate
from tests.test_dedup import _neardup_corpus


def test_curate_pipeline(spark):
    rows = _neardup_corpus(n_base=30)  # a/b near-dups, c unrelated + exacts
    # add junk rows that must fail the quality floor
    rows += [("junkA", "!!! ??? ..."), ("junkB", "@@ ## $$ %%")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    # junk rows score exactly 1/3 (word-length band passes, alpha and
    # stopword components zero); 0.34 is the floor that rejects them
    curated, counts = curate(
        df, min_quality=0.34, jaccard_threshold=0.5
    )
    assert counts["input"] == len(rows)
    assert counts["quality_pass"] == len(rows) - 2  # junk dropped
    # exact dups (dupX1, dupX2 copy d000a): 2 rows removed
    assert counts["exact_unique"] == counts["lang_pass"] - 2
    # near-dups: each a/b pair collapses to one -> 30 more rows removed
    assert counts["neardup_unique"] == counts["exact_unique"] - 30
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert "d000a" in ids and "d000b" not in ids
    assert "d000c" in ids  # unrelated text survives
    assert "junkA" not in ids


def test_embedding_neardup_lsh_strategy(spark):
    """tau 0.98 routes to the banded sign-LSH path, which finds every
    jittered copy."""
    import numpy as np

    from cli_p_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(5)
    base = rng.standard_normal((30, 32))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i in range(30):
        rows.append((i * 2, base[i].astype(np.float32).tolist()))
        jit = base[i] + rng.standard_normal(32) * 0.02
        jit /= np.linalg.norm(jit)
        rows.append((i * 2 + 1, jit.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vid long, embedding array<float>")
    got = {
        (r["src"], r["dst"])
        for r in embedding_neardup_pairs(
            df, "embedding", "vid", tau=0.98
        ).collect()
    }
    expected = {(str(i * 2), str(i * 2 + 1)) for i in range(30)}
    assert expected <= got


def test_winnow_neardup_pairs(spark):
    from cli_p_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs_from_fingerprints,
    )

    base = " ".join(f"tok{i}" for i in range(80))
    edited = base.replace("tok40", "tokXX")
    other = " ".join(f"zzz{i}" for i in range(80))
    df = spark.createDataFrame(
        [("a", base), ("b", edited), ("c", other)], "id string, text string"
    )
    got = {
        (r["src"], r["dst"]): r["n_shared"]
        for r in winnow_pairs_from_fingerprints(
            winnow_fingerprints(df, "text", "id")).collect()
    }
    assert ("a", "b") in got and got[("a", "b")] >= 4
    assert not any("c" in k for k in got)
