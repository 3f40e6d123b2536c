"""Bloom filter (operators/bloom.py): no false negatives ever and a
plausible false-positive rate."""

from __future__ import annotations

from cli_p_spark.operators.bloom import (
    bloom_bits,
    bloom_contains,
)

M, K = 2048, 3


def test_bloom_no_false_negatives_and_fp_sane(spark):
    build = spark.createDataFrame(
        [(i,) for i in range(0, 300)], "k long"
    )
    probe = spark.createDataFrame(
        [(i,) for i in range(0, 1500)], "k long"
    )
    bits = bloom_bits(build, "k", M, K)
    got = {
        r["k"]: r["maybe_member"]
        for r in bloom_contains(probe, "k", bits, M, K).collect()
    }
    # every build key passes (the hard guarantee)
    assert all(got[i] for i in range(300))
    # false positives bounded: fill ~ 1-exp(-K*300/M) ~ 0.36, fp ~ 4.6%
    fp = sum(1 for i in range(300, 1500) if got[i])
    assert fp / 1200 < 0.15


def test_bloom_contains_tolerates_duplicate_bits(spark):
    """A non-distinct bits frame (e.g. unioned filters before dedup)
    must not double-count matches into false negatives."""
    build = spark.createDataFrame([(i,) for i in range(50)], "k long")
    bits = bloom_bits(build, "k", M, K)
    dup_bits = bits.unionByName(bits)  # every position twice
    got = {
        r["k"]: r["maybe_member"]
        for r in bloom_contains(build, "k", dup_bits, M, K).collect()
    }
    assert all(got[i] for i in range(50))
