"""Deterministic HLL (operators/sketch.py): pure-Python register-math
replication over the same hashes, and accuracy within the standard
HLL error bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from cli_p_spark.operators.sketch import (
    RANK_CAP,
    _alpha,
    hll_corrected_from_hashes,
    hll_from_hashes,
)


def _hashed(df, key_col, *group_cols):
    """group_cols plus the xxhash64 of key_col as ``h``: the hashes the
    HLL register pipelines take."""
    return df.select(*group_cols, F.xxhash64(key_col).alias("h"))


def _py_hll(hashes, log2m=10):
    m = 1 << log2m
    regs = {}
    for h in hashes:
        b = h % m  # python % is already nonnegative for positive m
        rest = (h >> log2m) & ((1 << (64 - log2m)) - 1)
        if rest == 0:
            r = RANK_CAP
        else:
            r = min((rest & -rest).bit_length(), RANK_CAP)
        regs[b] = max(regs.get(b, 0), r)
    s = sum(1 << (RANK_CAP - r) for r in regs.values())
    s += (m - len(regs)) * (1 << RANK_CAP)
    return float(repr(_alpha(m) * m * m * float(1 << RANK_CAP))) / float(s)


def test_hll_matches_python_register_math(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(5000)], "user_id long"
    ).select("user_id", F.xxhash64("user_id").alias("h"))
    hashes = [r["h"] & ((1 << 64) - 1) for r in df.select("h").collect()]
    got = hll_from_hashes(df, "h").collect()[0]["hll_estimate"]
    assert got == _py_hll(hashes)


def test_histogram_quantiles_match_python_and_exact(spark):
    import random

    from cli_p_spark.operators.sketch import histogram_quantiles

    rng = random.Random(11)
    lo, hi, bins = 0.0, 100.0, 200
    vals = [rng.uniform(5, 95) for _ in range(8000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r["q"]: r["quantile_est"]
        for r in histogram_quantiles(
            df, "x", qs=(0.5, 0.9), bins=bins, lo=lo, hi=hi
        ).collect()
    }

    # pure-Python replication of the sketch (same width literal, same
    # interpolation tree)
    width = float(repr((hi - lo) / bins))
    hist = {}
    for v in vals:
        b = min(max(int((v - lo) // width), 0), bins - 1)
        hist[b] = hist.get(b, 0) + 1
    n = len(vals)
    for q in (0.5, 0.9):
        cum = 0
        for b in sorted(hist):
            k = hist[b]
            cum += k
            if float(cum) >= q * n:
                exp = lo + width * (b + (q * n - (cum - k)) / k)
                break
        assert got[q] == exp, (q, got[q], exp)
        # within one bin width of the exact empirical quantile
        exact = sorted(vals)[int(q * n)]
        assert abs(got[q] - exact) <= width + 1e-9


def test_hll_accuracy_and_grouping(spark):
    # two groups with known cardinalities ABOVE the small-range regime
    # (raw HLL is biased below ~2.5m = 2560 distinct; the linear-
    # counting correction is deliberately omitted — needs ln(), see
    # module docstring).  Estimate within 4 standard errors
    # (4 * 1.04/sqrt(1024) ~ 13%).
    rows = [("a", i) for i in range(20000)] + [
        ("b", i % 4000) for i in range(9000)
    ]
    df = spark.createDataFrame(rows, "grp string, user_id long")
    got = {
        r["grp"]: r["hll_estimate"]
        for r in hll_from_hashes(
            _hashed(df, "user_id", "grp"), "h", ["grp"]).collect()
    }
    assert abs(got["a"] - 20000) / 20000 < 0.13
    assert abs(got["b"] - 4000) / 4000 < 0.13
    # duplicates do not move the estimate: a pure function of the
    # distinct hash set
    dup = spark.createDataFrame(rows + rows, "grp string, user_id long")
    got_dup = {
        r["grp"]: r["hll_estimate"]
        for r in hll_from_hashes(
            _hashed(dup, "user_id", "grp"), "h", ["grp"]).collect()
    }
    assert got_dup == got


def test_histogram_quantiles_ignore_nulls(spark):
    """NULL values must be excluded BEFORE binning: mixing them in
    creates a NULL bin group that inflates n and sorts differently per
    engine (Spark NULLS FIRST vs DuckDB NULLS LAST)."""
    from cli_p_spark.operators.sketch import histogram_quantiles

    vals = [float(v) for v in range(1, 101)]
    rows = [(v,) for v in vals] + [(None,)] * 50
    df = spark.createDataFrame(rows, "x double")
    clean = spark.createDataFrame([(v,) for v in vals], "x double")
    args = dict(qs=(0.5, 0.95), bins=100, lo=0.0, hi=100.0)
    got = {
        r["q"]: r["quantile_est"]
        for r in histogram_quantiles(df, "x", **args).collect()
    }
    want = {
        r["q"]: r["quantile_est"]
        for r in histogram_quantiles(clean, "x", **args).collect()
    }
    assert got == want


def test_cms_matches_python_and_bounds(spark):
    """Count-Min: Spark estimate == pure-Python sketch replay over the
    same positions, estimate >= true count ALWAYS, and with width >>
    distinct keys the heavy keys estimate exactly."""
    import random
    from collections import Counter, defaultdict

    from cli_p_spark.operators.sketch import cms_estimate, cms_positions

    rng = random.Random(5)
    # Zipf-ish: key i drawn proportional to 1/(i+1)
    keys = [f"k{int(rng.paretovariate(1.0)) % 50:02d}" for _ in range(20000)]
    exact = Counter(keys)
    df = spark.createDataFrame([(k,) for k in keys], "term string")
    corpus_pos = cms_positions(df, "term", depth=4, width=512)
    cand = spark.createDataFrame(
        [(k,) for k in sorted(exact)], "term string"
    )
    cand_pos = cms_positions(cand, "term", depth=4, width=512, out_key="term")
    got = {
        r["term"]: r["cms_count"]
        for r in cms_estimate(corpus_pos, cand_pos, key="term").collect()
    }

    # pure-Python replay from the SAME collected positions
    sketch = defaultdict(int)
    for r in corpus_pos.collect():
        sketch[(r["_j"], r["_pos"])] += 1
    want = {}
    for r in cand_pos.collect():
        k = r["term"]
        v = sketch.get((r["_j"], r["_pos"]), 0)
        want[k] = min(want[k], v) if k in want else v
    assert got == want
    # CMS invariant: never underestimates
    assert all(got[k] >= exact[k] for k in exact)
    # wide sketch, few keys -> most estimates exact
    n_exact = sum(1 for k in exact if got[k] == exact[k])
    assert n_exact >= len(exact) * 0.9


def test_cms_merges_by_addition(spark):
    """Sketches built on disjoint halves and unioned give the same
    estimates as one sketch over the whole corpus (counter addition)."""
    from cli_p_spark.operators.sketch import cms_estimate, cms_positions

    rows = [(f"k{i % 7}",) for i in range(500)]
    a = spark.createDataFrame(rows[:250], "term string")
    b = spark.createDataFrame(rows[250:], "term string")
    whole = spark.createDataFrame(rows, "term string")
    cand = whole.distinct()
    kw = dict(depth=4, width=256)
    cp_w = cms_positions(whole, "term", **kw)
    cp_u = cms_positions(a, "term", **kw).unionByName(
        cms_positions(b, "term", **kw)
    )
    cand_pos = cms_positions(cand, "term", out_key="term", **kw)
    est_w = {
        r["term"]: r["cms_count"]
        for r in cms_estimate(cp_w, cand_pos, key="term").collect()
    }
    est_u = {
        r["term"]: r["cms_count"]
        for r in cms_estimate(cp_u, cand_pos, key="term").collect()
    }
    assert est_w == est_u


def test_cms_join_size_bounds_and_python(spark):
    """Join-size estimate: matches the pure-Python inner product over
    the same positions, never underestimates the true join size, and
    is tight when width >> distinct keys."""
    import random
    from collections import Counter, defaultdict

    from cli_p_spark.operators.sketch import cms_join_size, cms_positions

    rng = random.Random(29)
    a_keys = [f"k{rng.randrange(40):02d}" for _ in range(3000)]
    b_keys = [f"k{rng.randrange(40):02d}" for _ in range(2000)]
    ca, cb = Counter(a_keys), Counter(b_keys)
    true_join = sum(ca[k] * cb[k] for k in ca if k in cb)

    kw = dict(depth=4, width=1024)
    pa = cms_positions(
        spark.createDataFrame([(k,) for k in a_keys], "k string"), "k", **kw
    )
    pb = cms_positions(
        spark.createDataFrame([(k,) for k in b_keys], "k string"), "k", **kw
    )
    got = cms_join_size(pa, pb).collect()[0]["join_size_est"]

    sk_a, sk_b = defaultdict(int), defaultdict(int)
    for r in pa.collect():
        sk_a[(r["_j"], r["_pos"])] += 1
    for r in pb.collect():
        sk_b[(r["_j"], r["_pos"])] += 1
    by_j = defaultdict(int)
    for (j, p), c in sk_a.items():
        if (j, p) in sk_b:
            by_j[j] += c * sk_b[(j, p)]
    assert got == min(by_j.values())
    assert got >= true_join
    assert got <= true_join * 1.2  # wide sketch, few keys -> tight


# --- HLL small-range (linear counting) correction ---------------------


def test_hll_corrected_small_range_beats_raw(spark):
    # 120 distinct keys at m=1024: deep inside the small-range regime
    df = _hashed(spark.createDataFrame(
        [(i % 120,) for i in range(5000)], "k bigint"
    ), "k")
    corr = hll_corrected_from_hashes(df, "h", log2m=10).collect()[0]
    assert corr["method"] == "linear"
    assert abs(corr["hll_estimate"] - 120) / 120 < 0.05
    raw = hll_from_hashes(df, "h", log2m=10).collect()[0]["hll_estimate"]
    assert abs(corr["hll_estimate"] - 120) <= abs(raw - 120)


def test_hll_corrected_large_range_uses_raw(spark):
    # 50k distinct at m=64 (2.5m = 160): raw branch
    df = _hashed(
        spark.createDataFrame([(i,) for i in range(50000)], "k bigint"), "k")
    r = hll_corrected_from_hashes(df, "h", log2m=6).collect()[0]
    assert r["method"] == "raw"
    assert abs(r["hll_estimate"] - 50000) / 50000 < 0.35


def test_hll_corrected_matches_duckdb_twin(spark, tmp_path):
    import duckdb
    from pyspark.sql import functions as F

    from cli_p_spark.operators.sketch import (
        hll_corrected_from_hashes,
        hll_corrected_sql,
    )

    df = spark.createDataFrame(
        [(i % 3, i % 200) for i in range(3000)], "g int, k bigint"
    ).select("g", F.xxhash64("k").alias("h"))
    p = str(tmp_path / "hashes.parquet")
    df.write.mode("overwrite").parquet(p)
    staged = spark.read.parquet(p)
    got = sorted(
        (r["g"], r["method"], r["hll_estimate"])
        for r in hll_corrected_from_hashes(
            staged, "h", ["g"], log2m=8
        ).collect()
    )
    sql = hll_corrected_sql(
        f"read_parquet('{p}/*.parquet')", "h", ["g"], log2m=8
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want
