"""Fuzzy entity-name matching — deletion-neighborhood (SymSpell-style)
blocking + exact Levenshtein verify, all JVM-side.

Why here: entity canonicalization by SURFACE FORM.  The embedding path
(operators/lsh.py) merges mentions that MEAN the same thing; this
operator merges entity names that are TYPOS of each other ("Jon Smith" /
"John Smith") — the other half of real-world KG canonicalization, and a
standard blocking problem: exact all-pairs Levenshtein is O(n^2) string
DPs, unthinkable over 10^9 distinct names.

Blocking: the symmetric-delete trick (Garbe's SymSpell): if
levenshtein(a, b) <= d then a and b share at least one string in their
<=d-deletion neighborhoods (a substitution deletes down to a common
variant from both sides; an insert/delete deletes down from one).  So
generating C(len, <=d) variants per name (~210 for a 20-char name at
d=2) and equi-joining on the variant finds EVERY true pair — no recall
loss, unlike first-letter or length blocking.  Verification is one
built-in `levenshtein` call per candidate (integer, bit-identical on
any engine).

Scale shape: variants explode JVM-side (nested transform/flatten — zero
Python), and the variant buckets become candidate pairs through the
bucket-pair kernel the LSH paths use (operators/lsh.py ``bucket_pairs``:
one exchange of (name, variant) rows on the variant, then one pass over
each sorted bucket), so degenerate variant buckets (very short names
collapsing to "" etc.) emit only the linear star above ``max_bucket``.
Shuffle volume = variants x name-length bytes, proportional to the
DISTINCT-name table — tiny next to the corpus that mentions them."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lsh import bucket_pairs


def _delete_one(col):
    """array<string> of every single-character deletion of ``col``
    (empty array for the empty string — sequence(1,0) would DESCEND)."""
    gen = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            F.substring(col, F.lit(1), i - 1),
            F.substring(col, i + 1, F.length(col)),
        ),
    )
    return F.when(F.length(col) > 0, gen).otherwise(
        F.array().cast("array<string>")
    )


def deletion_variants(col, max_dist: int = 2):
    """array<string>: the <= ``max_dist``-deletion neighborhood of
    ``col`` including the string itself, distinct.  Sizes: 1 + L +
    L*(L-1)/2 at d=2 for length L."""
    col = F.col(col) if isinstance(col, str) else col
    tiers = [F.array(col)]
    for _ in range(max_dist):
        tiers.append(
            F.array_distinct(
                F.flatten(F.transform(tiers[-1], _delete_one))
            )
        )
    return F.array_distinct(F.flatten(F.array(*tiers)))


def name_variant_rows(
    df: DataFrame, name_col: str, max_dist: int = 2
) -> DataFrame:
    """(name, _variant): the exploded deletion neighborhood of every
    DISTINCT name — the blocking index (stage it for the oracle; persist
    it across increments the way the LSH band index is)."""
    return (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        .select(
            "name",
            F.explode(deletion_variants(F.col("name"), max_dist)).alias(
                "_variant"
            ),
        )
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
    max_bucket: int = 1000,
    variant_rows: DataFrame | None = None,
) -> DataFrame:
    """(src, dst, dist): every pair of distinct names within Levenshtein
    ``max_dist`` (src < dst) — complete recall by the symmetric-delete
    guarantee, candidates are the names sharing a variant, verified with
    the built-in levenshtein.  Oversized variant buckets (degenerate short
    strings) emit linear star CANDIDATES to the bucket-min name instead
    of the quadratic fan-in; star candidates pass through the SAME
    dist <= max_dist verify as everything else, so for the
    near-identical boilerplate that triggers the cap they keep the
    cluster connected, but a bucket of merely-variant-sharing names
    (up to 2*max_dist apart through the shared variant) can drop star
    edges beyond the bound — capping trades completeness of WITHIN-
    bucket pair enumeration for linear cost, never emits a wrong pair."""
    if variant_rows is None:
        variant_rows = name_variant_rows(df, name_col, max_dist)
    rows = variant_rows.select(F.col("name").alias("_id"), "_variant")
    return (
        bucket_pairs(rows, ["_variant"], max_bucket)
        .withColumn("dist", F.levenshtein("src", "dst"))
        .filter(F.col("dist") <= max_dist)
    )


def fuzzy_pairs_sql(variant_rel: str, max_dist: int = 2) -> str:
    """DuckDB twin over the staged (name, _variant) blocking index —
    same equi-join candidates, same built-in levenshtein verify (both
    engines implement the classic Wagner-Fischer distance)."""
    return f"""
SELECT DISTINCT a.name AS src, b.name AS dst,
       levenshtein(a.name, b.name) AS dist
FROM {variant_rel} a JOIN {variant_rel} b
  ON a._variant = b._variant AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {max_dist}
"""
