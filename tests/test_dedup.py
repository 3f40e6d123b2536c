"""Dedup operators vs exact Python oracles on a synthetic near-dup corpus."""

import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from cli_p_spark.operators.dedup import (
    dedup_keep_representatives,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)


def _neardup_corpus(n_base=60, seed=11):
    """Docs where i*3 is a base text, i*3+1 a light mutation (near-dup),
    i*3+2 an unrelated text."""
    rnd = random.Random(seed)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = []
    for i in range(n_base):
        base = rnd.sample(vocab, 30)
        mutated = list(base)
        mutated[rnd.randrange(30)] = rnd.choice(vocab)  # 1-word edit
        other = rnd.sample(vocab, 30)
        rows.append((f"d{i:03d}a", " ".join(base)))
        rows.append((f"d{i:03d}b", " ".join(mutated)))
        rows.append((f"d{i:03d}c", " ".join(other)))
    # plus exact duplicates
    rows.append(("dupX1", rows[0][1]))
    rows.append(("dupX2", rows[0][1]))
    return rows


def _jaccard(a, b, w=3):
    sa = {" ".join(a.split()[i: i + w]) for i in range(len(a.split()) - w + 1)}
    sb = {" ".join(b.split()[i: i + w]) for i in range(len(b.split()) - w + 1)}
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


@pytest.fixture(scope="module")
def neardup_df(spark):
    rows = _neardup_corpus()
    return rows, spark.createDataFrame(rows, "id string, text string")


def test_exact_dedup(spark, neardup_df):
    rows, df = neardup_df
    out = {
        r["content_hash"]: (r["keep_id"], r["n_copies"])
        for r in exact_dedup(df, "text", "id").collect()
    }
    dup_group = [v for v in out.values() if v[1] == 3]
    assert dup_group == [("d000a", 3)]  # d000a + dupX1 + dupX2
    assert sum(v[1] for v in out.values()) == len(rows)


def test_minhash_recall_and_precision(spark, neardup_df):
    rows, df = neardup_df
    pairs = {
        (r["src"], r["dst"])
        for r in minhash_lsh_pairs(
            df, "text", "id", jaccard_threshold=0.5
        ).collect()
    }
    # oracle: all pairs with true shingle-Jaccard >= 0.62 must be found
    # (estimator noise band: require found pairs to be >= 0.38 true)
    texts = dict(rows)
    ids = sorted(texts)
    truth_hi = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if _jaccard(texts[a], texts[b]) >= 0.62
    }
    missed = truth_hi - pairs
    assert not missed, f"missed high-sim pairs: {sorted(missed)[:5]}"
    for a, b in pairs:
        assert _jaccard(texts[a], texts[b]) >= 0.38, (a, b)


def test_simhash_finds_exact_and_near(spark, neardup_df):
    rows, df = neardup_df
    pairs = {
        (r["src"], r["dst"]): r["hamming"]
        for r in simhash_pairs(df, "text", "id", max_hamming=3).collect()
    }
    assert pairs[("d000a", "dupX1")] == 0  # exact copies: distance 0
    assert pairs[("d000a", "dupX2")] == 0
    assert pairs[("dupX1", "dupX2")] == 0


def test_ngram_jaccard_matches_oracle(spark, neardup_df):
    rows, df = neardup_df
    got = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "text", "id", n=3, threshold=0.6
        ).collect()
    }
    texts = dict(rows)
    ids = sorted(texts)
    oracle = {
        (a, b): _jaccard(texts[a], texts[b])
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if _jaccard(texts[a], texts[b]) >= 0.6
    }
    assert got.keys() == oracle.keys()
    for k in oracle:
        assert abs(got[k] - oracle[k]) < 1e-9


def test_embedding_neardup(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 32)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i in range(40):
        rows.append((i * 2, base[i].tolist()))
        jitter = base[i] + rng.standard_normal(32).astype(np.float32) * 0.02
        rows.append((i * 2 + 1, (jitter / np.linalg.norm(jitter)).tolist()))
    df = spark.createDataFrame(rows, "vid long, embedding array<float>")
    pairs = embedding_neardup_pairs(
        df, "embedding", "vid", tau=0.98, nlist=8, nprobe=8,
        strategy="ivf",  # exhaustive/oracle path under test
    ).collect()
    got = {(r["src"], r["dst"]) for r in pairs}
    expected = {(str(i * 2), str(i * 2 + 1)) for i in range(40)}
    assert expected <= got
    # no far pairs: verify all found pairs truly >= 0.98 cosine
    emb = {str(r[0]): np.array(r[1]) for r in rows}
    for a, b in got:
        c = float(emb[a] @ emb[b])
        assert c >= 0.98 - 1e-6, (a, b, c)


def test_keep_representatives(spark, neardup_df):
    rows, df = neardup_df
    pairs = ngram_jaccard_pairs(df, "text", "id", n=3, threshold=0.6)
    kept = dedup_keep_representatives(df, pairs, "id")
    kept_ids = {r["id"] for r in kept.select("id").collect()}
    # cluster {d000a-ish near-dups}: only the min id survives
    assert "d000a" in kept_ids
    texts = dict(rows)
    ids = sorted(texts)
    clustered = {
        b
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if _jaccard(texts[a], texts[b]) >= 0.6
    }
    assert kept_ids == set(texts) - clustered

def test_neardup_auto_strategy_routing(spark):
    """strategy='auto' must pick the sub-quadratic LSH plan at high tau
    (the 10^12-doc dedup regime) and the exact IVF plan at low tau —
    checked structurally on the analyzed plan: the LSH path emits one
    packed band-key column (_key); the IVF path explodes probe cells."""
    import re

    from cli_p_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(3)
    emb = rng.standard_normal((20, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, emb[i].tolist()) for i in range(20)],
        "vid long, embedding array<float>",
    )

    def plan(pairs):
        return pairs._jdf.queryExecution().analyzed().toString()

    def band_key(p):
        return re.search(r"\b_key#", p) is not None

    hi = plan(embedding_neardup_pairs(df, "embedding", "vid", tau=0.9))
    assert band_key(hi) and "probes" not in hi
    lo = plan(embedding_neardup_pairs(df, "embedding", "vid", tau=0.5))
    assert "probes" in lo and not band_key(lo)


def test_lsh_params_for_tau():
    """Band sizing hits the recall target and stays sub-quadratic."""
    import math

    from cli_p_spark.operators.lsh import lsh_params_for_tau

    for tau in (0.8, 0.85, 0.9, 0.95, 0.99):
        bits, bands = lsh_params_for_tau(tau, target_recall=0.99)
        p1 = 1.0 - math.acos(tau) / math.pi
        recall = 1.0 - (1.0 - p1 ** bits) ** bands
        assert recall >= 0.99, (tau, bits, bands, recall)
        # random (cos~0) pair expected candidate rate stays tiny
        assert bands * 2.0 ** -bits < 0.05, (tau, bits, bands)
    assert lsh_params_for_tau(1.0)[1] == 1


def test_ngram_contamination(spark):
    """Planted eval-probe leakage: a train doc embedding a probe's
    sentence is flagged with the exact shared-n-gram count; clean docs
    and the probe's own source doc are not."""
    from cli_p_spark.operators.dedup import ngram_contamination

    probe_sent = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            ("t1", f"intro words {probe_sent} trailing words here"),
            ("t2", "a completely unrelated document about spark joins"),
            ("p1src", probe_sent),
        ],
        "doc_id string, text string",
    )
    probes = spark.createDataFrame(
        [("p1", probe_sent)], "probe_id string, text string"
    )
    got = {
        (r["doc_id"], r["probe_id"]): (r["n_overlap"], r["overlap_frac"])
        for r in ngram_contamination(
            docs, probes, n=5, min_overlap=2
        ).collect()
    }
    # probe has 10 tokens -> 6 distinct 5-grams; t1 contains them all
    assert got[("t1", "p1")] == (6, 1.0)
    assert got[("p1src", "p1")] == (6, 1.0)  # self-source flagged too
    assert ("t2", "p1") not in got


def test_pii_scrub_and_counts(spark):
    """Planted PII: counts per kind and full redaction; clean text
    untouched; email scrubbed before phone/ip patterns can nibble it."""
    from cli_p_spark.functions.text import pii_counts, pii_scrub

    rows = [
        ("a", "mail a.b@x.org and c.d@y.io, call 555-123-4567"),
        ("b", "server at 10.0.0.1 and 192.168.1.77 up"),
        ("c", "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    cnt = pii_counts("text")
    got = {
        r["id"]: (r["e"], r["p"], r["i"], r["s"])
        for r in df.select(
            "id", cnt["email"].alias("e"), cnt["phone"].alias("p"),
            cnt["ipv4"].alias("i"), pii_scrub("text").alias("s"),
        ).collect()
    }
    assert got["a"][:3] == (2, 1, 0)
    assert got["a"][3] == "mail <EMAIL> and <EMAIL>, call <PHONE>"
    assert got["b"][:3] == (0, 0, 2)
    assert got["b"][3] == "server at <IPV4> and <IPV4> up"
    assert got["c"] == (0, 0, 0, "no pii here at all")


def test_incremental_lsh_matches_full_rebuild(spark, neardup_df):
    """Increment-vs-corpus pairs must equal the full-corpus LSH result
    minus the corpus-internal pairs: batch processing loses nothing."""
    from cli_p_spark.operators.dedup import (
        incremental_lsh_pairs,
        lsh_pairs_from_signatures,
        minhash_signatures,
    )

    rows, df = neardup_df
    # deterministic split: ids ending in 'b' plus the dupX docs are the
    # "new batch"; rest is the stored corpus
    is_new = F.col("_id").endswith("b") | F.col("_id").startswith("dup")
    sig = minhash_signatures(df, "text", "id", n_hashes=64, shingle_w=3)
    sig.persist()
    new_sig, corpus_sig = sig.filter(is_new), sig.filter(~is_new)

    inc = incremental_lsh_pairs(
        new_sig, corpus_sig, n_hashes=64, bands=16,
        jaccard_threshold=0.5, max_bucket=1 << 30,
    )
    got = {(r["src"], r["dst"]): r["jaccard"] for r in inc.collect()}

    full = lsh_pairs_from_signatures(
        sig, n_hashes=64, bands=16, jaccard_threshold=0.5,
        max_bucket=1 << 30,
    )
    new_ids = {r["_id"] for r in new_sig.select("_id").collect()}
    want = {}
    for r in full.collect():
        s, d = r["src"], r["dst"]
        if s in new_ids and d in new_ids:
            want[(s, d)] = r["jaccard"]          # new x new, already s<d
        elif s in new_ids:
            want[(s, d)] = r["jaccard"]          # new -> corpus
        elif d in new_ids:
            want[(d, s)] = r["jaccard"]          # flip: src must be new
    assert got == want
    assert len(got) > 0
    inc.signature_cache.unpersist()
    sig.unpersist()


def test_incremental_lsh_star_guard(spark):
    """An oversized corpus bucket must degrade to the linear star: the
    new doc pairs only with the bucket's min corpus id."""
    from cli_p_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_signatures,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus_rows = [(f"c{i:03d}", text) for i in range(20)]
    new_rows = [("n000", text)]
    corpus = spark.createDataFrame(corpus_rows, "id string, text string")
    new = spark.createDataFrame(new_rows, "id string, text string")
    c_sig = minhash_signatures(corpus, "text", "id")
    n_sig = minhash_signatures(new, "text", "id")
    inc = incremental_lsh_pairs(
        n_sig, c_sig, jaccard_threshold=0.5, max_bucket=5,
    )
    got = {(r["src"], r["dst"]) for r in inc.collect()}
    assert got == {("n000", "c000")}  # min corpus id only, not 20 pairs
    inc.signature_cache.unpersist()


def test_incremental_lsh_star_replay_no_self_pair(spark):
    """ADVICE r4: an at-least-once REPLAYED batch doc that is also the
    min id of an oversized index bucket must not star to itself — the
    star path needs the same src != dst guard as the cross path."""
    from cli_p_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_signatures,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus_rows = [(f"c{i:03d}", text) for i in range(20)]
    new_rows = [("c000", text)]  # replay of the bucket-min corpus doc
    corpus = spark.createDataFrame(corpus_rows, "id string, text string")
    new = spark.createDataFrame(new_rows, "id string, text string")
    c_sig = minhash_signatures(corpus, "text", "id")
    n_sig = minhash_signatures(new, "text", "id")
    inc = incremental_lsh_pairs(
        n_sig, c_sig, jaccard_threshold=0.5, max_bucket=5,
    )
    got = {(r["src"], r["dst"]) for r in inc.collect()}
    assert all(s != d for s, d in got)
    assert got == set()  # star target IS the replayed doc -> nothing
    inc.signature_cache.unpersist()


def test_semantic_dedup_pairs_exact_within_cluster(spark):
    """SemDeDup: the clustering is the approximation — WITHIN a cluster
    the pair set must be exactly the brute-force all-pairs-above-tau
    result, and the keep decision must be min-id-per-duplicate-group."""
    import collections
    import itertools

    import numpy as np

    from cli_p_spark.operators.dedup import (
        semantic_cluster_assign,
        semantic_dedup,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.normal(size=(3, 16))
    rows = [
        (
            f"d{i:03d}",
            [float(x) for x in base[i % 3] + 0.3 * rng.normal(size=16)],
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id string, embedding array<float>")
    tau = 0.8
    asg = semantic_cluster_assign(df, "embedding", "id", nlist=6).persist()
    got = {
        (r["src"], r["dst"]): r["cosine"]
        for r in semantic_dedup_pairs(asg, tau).collect()
    }

    pdf = asg.toPandas()
    by_bucket = collections.defaultdict(list)
    for _, r in pdf.iterrows():
        by_bucket[r["bucket"]].append((r["_nid"], np.asarray(r["_emb"], dtype=np.float64)))
    want = {}
    for members in by_bucket.values():
        for (ia, ea), (ib, eb) in itertools.combinations(sorted(members), 2):
            cos = float(ea @ eb)
            if cos >= tau:
                want[(ia, ib)] = cos
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9

    # keep decision: min id of each connected pair-group; singletons kept
    parent = {i: i for i, _ in ((r[0], 0) for r in rows)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in want:
        parent[find(a)] = find(b)
    groups = collections.defaultdict(set)
    for i, _ in rows:
        groups[find(i)].add(i)
    want_keep = {min(g) for g in groups.values()}
    out = semantic_dedup(df, "embedding", "id", tau=tau, nlist=6)
    got_keep = {r["doc_id"] for r in out.collect() if r["keep"]}
    assert got_keep == want_keep
    assert out.count() == len(rows)
    asg.unpersist()


def test_setsim_prefix_matches_bruteforce(spark, neardup_df):
    """Prefix filtering must be LOSSLESS: the pair set and jaccard
    values equal the brute-force all-pairs token-SET jaccard result,
    including threshold-boundary pairs (integer threshold arithmetic)."""
    from cli_p_spark.operators.dedup import setsim_prefix_pairs

    rows, df = neardup_df
    got = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in setsim_prefix_pairs(
            df, "text", "id", tau_num=3, tau_den=5
        ).collect()
    }
    sets = {i: set(t.split()) for i, t in rows}
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            c = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if u and 5 * c >= 3 * u:
                want[(a, b)] = c / u
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k]  # same integer operands -> exact
    assert len(got) > 0


def test_setsim_prefix_boundary_exact(spark):
    """ceil(tau*L) on floats rounds 0.8*5 up to 5 and silently drops
    boundary pairs; the integer arithmetic must keep them: two 5-token
    sets sharing 4 tokens have jaccard 4/6 < 0.8 (correctly out), but
    a doc equal to another's 4-token subset plus nothing (4/5 = 0.8)
    is exactly at threshold and must be found."""
    from cli_p_spark.operators.dedup import setsim_prefix_pairs

    rows = [
        ("a", "t1 t2 t3 t4 t5"),
        ("b", "t1 t2 t3 t4"),      # jaccard(a,b) = 4/5 = tau exactly
        ("c", "t1 t2 t3 x1 x2"),   # jaccard(a,c) = 3/7 < tau
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in setsim_prefix_pairs(
            df, "text", "id", tau_num=4, tau_den=5
        ).collect()
    }
    assert set(got) == {("a", "b")}
    assert got[("a", "b")] == 0.8
