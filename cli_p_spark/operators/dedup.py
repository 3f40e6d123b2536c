"""Deduplication operators for large-scale corpus curation.

The reference's only dedup is exact path-presence (build-index.py:42-44);
a 100 TB training-data pipeline needs content-level dedup.  All operators
here are DataFrame-native with the same shape:

    candidates (cheap, hash/bucket based, shuffle on bucket)
      -> verify (exact metric on candidate pairs only)
      -> connected components (operators/ccomp.py)
      -> keep min-id representative per duplicate cluster

Families:
- minhash_lsh_pairs      word-shingle MinHash, banded LSH self-join,
                         exact-Jaccard verification
- simhash_fingerprints + simhash_pairs_from_fingerprints
                         64-bit SimHash, equal-16-bit-band candidates
                         (pigeonhole: max_hamming=3 over 4 bands is
                         exact-complete), exact Hamming verification
                         (bit_count of the xor, JVM-side)
- winnow_fingerprints + winnow_pairs_from_fingerprints
                         docs sharing >= min_shared winnowed k-gram mins
                         (Schleimer et al., SIGMOD'03)
- embedding_neardup_pairs  cosine near-dup pairs: banded sign-LSH
                           (operators/lsh.py) at tau >= 0.8, the IVF
                           self-join (operators/ann.py — same machinery
                           as entity linking) below it

Determinism: every hash is seeded (xxhash64 with fixed salt columns or
NumPy hashes derived from config.SEED); candidate generation and
verification are pure functions of content.

Scale notes: MinHash buckets become candidate pairs through the shared
bucket-pair kernel (operators/lsh.py ``bucket_pairs``): one hash
exchange on the bucket key, then one pass over each sorted bucket run.
Band buckets are high-cardinality (hash of signature slice); hot buckets
(boilerplate text) are the skew case, so a bucket larger than
``max_bucket`` emits only its linear star (bucket-min id, each other
member) instead of |bucket|^2 pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import NLIST, NPROBE, SEED
from .lsh import _CacheHandle, bucket_pairs, hyperplane_lsh_pairs


def _tokens(content_col: str):
    """Whitespace tokens, lowercased, empties dropped — JVM-side twin of
    Python's str.lower().split()."""
    return F.filter(
        F.split(F.lower(F.col(content_col)), r"\s+"), lambda t: t != ""
    )


def _shingle_array(content_col: str, w: int):
    """array<string> of word w-shingles; short texts yield their single
    full-token shingle; token-less texts yield an empty array."""
    toks = _tokens(content_col)
    windows = F.transform(
        F.sequence(F.lit(0), F.size(toks) - w),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, w)),
    )
    return (
        F.when(F.size(toks) >= w, windows)
        .when(F.size(toks) > 0, F.array(F.concat_ws(" ", toks)))
        .otherwise(F.array().cast("array<string>"))
    )


def minhash_signatures(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n_hashes: int = 64,
    shingle_w: int = 3,
    seed: int = SEED,
) -> DataFrame:
    """(_id, _sig array<long>) MinHash signatures — ZERO Python in the
    path (input_hint: no per-row Python on hot paths; 10^12 docs pass
    through here).

    Shingles are exploded JVM-side; each shingle is hashed ONCE with
    xxhash64, then the n_hashes independent families are n_hashes cheap
    xxhash64 mixes of that fixed-width value with (seed, i) salts —
    min-wise independence comes from xxhash64's avalanche, not from an
    (a*x+b) mod P family (which is order-preserving for small x — zero
    min-wise independence, the round-1 hard-won gotcha).  The signature
    aggregation is one shuffle with partial (map-side) min combine.
    Token-less docs get the all-zeros signature.

    The input is first repartitioned to the cluster's
    defaultParallelism — same rationale as repetition_stats: the
    shingle explode + n_hashes-way partial min is the dominant cost,
    but a single-row-group parquet scans as ONE task, serializing the
    whole hash pass (guide §2.5 input skew: unsplittable input —
    repartition right after the read; measured 5.1 s -> 1.5 s at
    sf0.1 on local[32])."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    grams = df.repartition(parts).select(
        F.col(id_col).alias("_id"),
        F.explode(_shingle_array(content_col, shingle_w)).alias("_g"),
    ).withColumn("_h", F.xxhash64("_g"))
    sig = grams.groupBy("_id").agg(
        F.array(
            *[
                F.min(F.xxhash64(F.lit(seed), F.lit(i), F.col("_h")))
                for i in range(n_hashes)
            ]
        ).alias("_sig")
    )
    zeros = F.array(*[F.lit(0).cast("long")] * n_hashes)
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(sig, "_id", "left")
        .select("_id", F.coalesce("_sig", zeros).alias("_sig"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    jaccard_threshold: float = 0.7,
    seed: int = SEED,
) -> DataFrame:
    """Near-duplicate pairs (src, dst, jaccard) with jaccard >= threshold.

    ``minhash_signatures`` (64 hashes of word 3-shingles) banded by
    ``lsh_pairs_from_signatures`` at its defaults.  Candidates: rows
    colliding in >=1 of 16 bands (4 rows/band), buckets above 1000 rows
    starred.  Verification: exact estimated Jaccard = fraction of
    agreeing MinHash components (unbiased estimator; for exact set
    Jaccard swap in a shingle-set join — estimator keeps verification a
    fixed-width column compare, scale-friendly)."""
    # persist: the shingle-explode + 64-way min agg is the dominant cost
    # and lsh_pairs_from_signatures consumes sig in THREE plan branches
    # (banding and the two verification re-attach joins).
    # The persisted table rides on the returned frame as
    # `.signature_cache`: callers MUST unpersist it once the pair plan
    # has been materialized (curate() does), or the signature blocks pin
    # executor storage for the session lifetime.
    sig = minhash_signatures(df, content_col, id_col, seed=seed).persist()
    out = lsh_pairs_from_signatures(sig, jaccard_threshold=jaccard_threshold)
    out.signature_cache = sig
    return out


def lsh_pairs_from_signatures(
    sig: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded-LSH pair generation over a precomputed signature table
    (_id, _sig array<long>) — split out so signatures can be persisted
    once and banded many times (and so the DuckDB oracle can check the
    banding+verify logic over the exact same staged signatures).

    Scale shape: the band exchange and the pair kernel carry IDS
    ONLY — signatures (n_hashes x 8 B) are re-attached to the surviving
    candidate pairs by two narrow joins afterwards.  Carrying _sig
    through the banded explode would multiply the shuffle volume by
    bands x sig-width (petabytes at 10^12 docs)."""
    # the band index is already folded into the bucket hash (the F.lit(b)
    # seed inside _band_bucket_explode), so the bucket value alone is the
    # bucket key: a single long instead of (band, bucket) halves the key
    # width through the candidate exchange.  A cross-band 64-bit hash
    # collision could only ADD a candidate pair, which the exact
    # signature-agreement verify below then filters.  Degenerate buckets
    # (boilerplate) above max_bucket emit only their linear bucket-min
    # star, which keeps the bucket connected for downstream CC.
    cand = bucket_pairs(
        _band_bucket_explode(sig, n_hashes, bands), ["_bucket"], max_bucket
    )
    return _jaccard_verify(cand, sig, sig, n_hashes, jaccard_threshold)


def _jaccard_verify(cand, sig_src, sig_dst, n_hashes, jaccard_threshold):
    """(src, dst, jaccard) of the candidate pairs whose signatures agree
    on >= jaccard_threshold of their n_hashes components; src's
    signature comes from ``sig_src``, dst's from ``sig_dst``."""
    sig_a = sig_src.select(
        F.col("_id").alias("src"), F.col("_sig").alias("_sig_a")
    )
    sig_b = sig_dst.select(
        F.col("_id").alias("dst"), F.col("_sig").alias("_sig_b")
    )
    agree = F.aggregate(
        F.zip_with("_sig_a", "_sig_b",
                   lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(sig_a, "src").join(sig_b, "dst")
        .withColumn("jaccard", agree / F.lit(n_hashes))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("src", "dst", "jaccard")
    )


def _band_bucket_explode(sig: DataFrame, n_hashes: int, bands: int):
    """(_id, _bucket): the packed single-long band keys of a signature
    table — the same construction lsh_pairs_from_signatures uses (band
    index folded into the bucket hash via the F.lit(b) seed)."""
    r = n_hashes // bands
    band_cols = [
        F.xxhash64(
            F.lit(b), F.slice("_sig", b * r + 1, r).cast("array<string>")
        ).alias(f"_b{b}")
        for b in range(bands)
    ]
    return sig.select(
        "_id", F.explode(F.array(*band_cols)).alias("_bucket")
    )


def incremental_lsh_pairs(
    new_sig: DataFrame,
    corpus_sig: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs of an INCREMENT against an already-signed corpus —
    the daily-batch workflow at 10^12 docs, where re-banding the whole
    corpus per batch (lsh_pairs_from_signatures over the union) would
    re-shuffle petabytes that didn't change.

    Inputs are signature tables (_id, _sig array<long>) with DISJOINT
    ids: ``corpus_sig`` is the stored table the pipeline maintains
    (written once per doc, ever); its band rows (_id, _bucket) are
    derived here, one corpus pass.

    Output: (src, dst, jaccard) with src from the new batch; dst from
    the corpus (cross pairs), plus the new×new pairs (src < dst).  Join
    volume is |new_bands ⋈ index|, i.e. proportional to the BATCH, not
    the corpus.  The bucket-size guard caps degenerate (boilerplate)
    buckets on BOTH sides: a new doc landing in an oversized index
    bucket pairs ONLY with that bucket's min corpus id, and an oversized
    new-batch bucket stars to its min new id (linear, not quadratic).
    Star candidates still pass the jaccard >= threshold verify, so for
    the near-identical boilerplate that triggers the cap the cluster
    stays connected for downstream CC; bucket members that merely
    band-collide can drop below the threshold and lose their star edge
    — the cap trades within-bucket pair completeness for linear cost,
    never emits a wrong pair.

    The returned frame carries ``.band_rows`` (the new batch's band
    rows) — append them to the stored index so the NEXT increment sees
    this one, and ``.signature_cache`` to unpersist after
    materialization."""
    band_new = _band_bucket_explode(new_sig, n_hashes, bands).persist()
    corpus_bands = _band_bucket_explode(corpus_sig, n_hashes, bands)

    star = None
    if max_bucket < (1 << 30):
        sizes = corpus_bands.groupBy("_bucket").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        tagged = corpus_bands.join(sizes, ["_bucket"])
        big = tagged.filter(F.col("_bn") > max_bucket)
        mins = big.groupBy("_bucket").agg(F.min("_id").alias("_min"))
        star = (
            band_new.join(mins, ["_bucket"])
            .select(
                F.col("_id").alias("src"), F.col("_min").alias("dst")
            )
            # same replay guard as the cross path below: an at-least-once
            # replayed batch doc that is ALSO the min id of an oversized
            # index bucket would star to itself otherwise
            .filter(F.col("src") != F.col("dst"))
        )
        corpus_bands = tagged.filter(
            F.col("_bn") <= max_bucket
        ).drop("_bn")

    cross = (
        band_new.join(
            corpus_bands.select(
                F.col("_id").alias("dst"), "_bucket"
            ),
            ["_bucket"],
        )
        .select(F.col("_id").alias("src"), "dst")
        # ids are disjoint by contract, but a REPLAYED streaming batch
        # re-pairs against an index that already contains it — drop the
        # self-pair so at-least-once replay stays idempotent
        .filter(F.col("src") != F.col("dst"))
    )
    if star is not None:
        cross = cross.unionByName(star)
    out = _jaccard_verify(
        cross.dropDuplicates(["src", "dst"]), new_sig, corpus_sig,
        n_hashes, jaccard_threshold,
    )
    # the new batch pairs with itself through the batch path's kernel,
    # with the same max_bucket star: a micro-batch full of boilerplate
    # in one bucket pairs linearly, not quadratically
    nn = bucket_pairs(band_new, ["_bucket"], max_bucket)
    out = out.unionByName(_jaccard_verify(
        nn, new_sig, new_sig, n_hashes, jaccard_threshold,
    ))
    out.band_rows = band_new
    out.signature_cache = _CacheHandle(band_new)
    return out


def simhash_fingerprints(
    df: DataFrame,
    content_col: str,
    id_col: str,
    seed: int = SEED,
) -> DataFrame:
    """(_id, _fp long) 64-bit SimHash — sign of the token-hash-vector sum,
    computed ENTIRELY JVM-side (no per-token Python; input_hint).

    Each token hashes once (xxhash64(seed, token)); its 64 hash bits ARE
    the 64 independent ±1 plane signs (an avalanche hash's bits are
    pairwise independent — unlike the round-1 61-bit cyclic reuse, where
    bits 61-63 duplicated bits 0-2 and correlated the bands).  bit j of
    the fingerprint = majority of tokens' bit j: one groupBy with 64
    partial-aggregated bit-count sums.  Duplicate tokens weigh per
    occurrence.  Token-less docs fingerprint to 0.

    The input is first repartitioned to the cluster's
    defaultParallelism — the token explode + 64 getbit sums run on the
    scan's partitioning otherwise, and a single-row-group parquet scans
    as ONE task (guide §2.5 input skew; see minhash_signatures)."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    toked = df.repartition(parts).select(
        F.col(id_col).alias("_id"),
        F.explode(_tokens(content_col)).alias("_t"),
    ).withColumn("_h", F.xxhash64(F.lit(seed), F.col("_t")))
    agg = toked.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[F.sum(F.getbit("_h", F.lit(j))).alias(f"_b{j}") for j in range(64)],
    )
    # bit j set iff ones-count strictly beats zeros-count (acc > 0)
    fp = None
    for j in range(64):
        term = F.when(
            F.col(f"_b{j}") * 2 > F.col("_cnt"),
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp.bitwiseOR(term)
    fps = agg.select("_id", fp.alias("_fp"))
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(fps, "_id", "left")
        .select("_id", F.coalesce("_fp", F.lit(0).cast("long")).alias("_fp"))
    )


def simhash_pairs_from_fingerprints(
    fp: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(src, dst, hamming) pairs, src < dst, of a fingerprint table
    (_id, _fp long) whose fingerprints differ in <= max_hamming bits:
    candidates share one of ``bands`` equal-width bands (exact-complete
    when max_hamming < bands, by pigeonhole), verified by the Hamming
    distance.  Takes the table ``simhash_fingerprints`` returns, so
    fingerprints are computed and persisted once."""
    width = 64 // bands
    mask = (1 << width) - 1
    # band index packed into the key's high bits: one long join key
    # (exact — band b occupies bits [width, width+log2(bands)), disjoint
    # from the extracted band value) instead of (band, key)
    band_cols = [
        (F.shiftrightunsigned("_fp", b * width).bitwiseAND(F.lit(mask)))
        .bitwiseOR(F.lit(b << width))
        .alias(f"_b{b}")
        for b in range(bands)
    ]
    banded = fp.select(
        "_id", "_fp", F.explode(F.array(*band_cols)).alias("_key")
    )
    a = banded.select(F.col("_id").alias("src"),
                      F.col("_fp").alias("_fa"), "_key")
    b = banded.select(F.col("_id").alias("dst"),
                      F.col("_fp").alias("_fb"), "_key")
    cand = (
        a.join(b, ["_key"])
        .filter(F.col("src") < F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("src", "dst", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs via shingle inverted index —
    no crossJoin: explode shingles, self-join on shingle, count
    intersections, compute |A|,|B| by id, Jaccard = inter/(|A|+|B|-inter).
    Pure DataFrame ops (SQL-oracle-able)."""
    toks = F.split(F.lower(F.col(content_col)), " ")
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ).alias("_g"),
    ).distinct()
    sizes = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = grams.select(F.col("_id").alias("src"), "_g")
    b = grams.select(F.col("_id").alias("dst"), "_g")
    inter = (
        a.join(b, "_g")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sz_a = sizes.select(F.col("_id").alias("src"), F.col("_sz").alias("_sa"))
    sz_b = sizes.select(F.col("_id").alias("dst"), F.col("_sz").alias("_sb"))
    return (
        inter.join(sz_a, "src").join(sz_b, "dst")
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.col("_sa") + F.col("_sb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )


def ngram_contamination(
    docs: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
    probe_id_col: str = "probe_id",
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Train/eval decontamination: (doc_id, probe_id, n_overlap,
    overlap_frac) for every corpus document sharing >= ``min_overlap``
    distinct word n-grams with an eval-set probe (the GPT-3 §C /
    Pile-style 13-gram scrub; n configurable).  overlap_frac =
    n_overlap / |probe n-grams| — 1.0 means the probe is fully
    contained.

    Scale shape: the PROBE side is small (an eval benchmark, thousands
    of items) — its exploded n-gram table broadcasts; the corpus side
    explodes n-grams once and broadcast-joins WITHOUT a global distinct
    (deduping all corpus n-grams would be a full-corpus shuffle at
    10^12 docs) — within-doc duplicate grams are deduped AFTER the
    join, on the surviving hit rows only, so the only shuffle carries
    (doc, probe, gram) HITS.  Pure Catalyst (split/slice/concat_ws/
    explode), no Python.
    """

    def grams(df, idc, textc, out):
        toks = F.split(F.lower(F.col(textc)), " ")
        return df.select(
            F.col(idc).alias(out),
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))
                    ),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                )
            ).alias("_g"),
        )

    dg = grams(docs, id_col, text_col, "doc_id")
    pg = grams(probes, probe_id_col, probe_text_col, "probe_id").distinct()
    psizes = pg.groupBy("probe_id").agg(F.count(F.lit(1)).alias("_pn"))
    hits = (
        dg.join(F.broadcast(pg), "_g")
        # distinct AFTER the filter-join: within-doc duplicate grams
        # collapse here over hits only, not over the whole corpus
        .dropDuplicates(["doc_id", "probe_id", "_g"])
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return hits.join(F.broadcast(psizes), "probe_id").select(
        "doc_id",
        "probe_id",
        "n_overlap",
        (F.col("n_overlap") / F.col("_pn")).alias("overlap_frac"),
    )


def winnow_fingerprints(
    df: DataFrame,
    content_col: str,
    id_col: str,
    w: int = 8,
    k: int = 4,
    seed: int = SEED,
) -> DataFrame:
    """(_id, _fp) distinct winnowing fingerprints — ZERO Python
    (input_hint): k-gram hashes via the JVM shingle+xxhash64 pipeline,
    window-of-w minima via one per-document sliding-window min (the
    round-2 replacement for the per-gram Python UDF in functions/text).
    Document windows are bounded by document length, so the window
    operator's per-partition state is bounded too."""
    from pyspark.sql import Window

    grams = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_shingle_array(content_col, k)).alias("_pos", "_g"),
    ).withColumn("_h", F.xxhash64(F.lit(seed), F.col("_g")))
    n_grams = grams.groupBy("_id").agg(F.max("_pos").alias("_maxpos"))
    win = (
        Window.partitionBy("_id").orderBy("_pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    mins = (
        grams.join(n_grams, "_id")
        .withColumn("_wmin", F.min("_h").over(win))
        # a winnowing window must hold w grams; shorter docs keep their
        # single global min (every text yields >= 1 fingerprint)
        .filter(
            (F.col("_pos") <= F.col("_maxpos") - (w - 1))
            | (F.col("_maxpos") < w - 1) & (F.col("_pos") == 0)
        )
    )
    return mins.select("_id", F.col("_wmin").alias("_fp")).distinct()


def winnow_pairs_from_fingerprints(
    fps: DataFrame, min_shared: int = 4
) -> DataFrame:
    """Inverted-index pair counting over a precomputed (_id, _fp) table
    (persist-once / oracle-checkable twin)."""
    a = fps.select(F.col("_id").alias("src"), "_fp")
    b = fps.select(F.col("_id").alias("dst"), "_fp")
    return (
        a.join(b, "_fp")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _unit_vectors(df: DataFrame, embedding_col: str, id_col: str,
                  out_id: str = "_nid", out_emb: str = "_emb") -> DataFrame:
    """(id string, unit-normalized embedding) — JVM-side normalization
    with the zero-norm passthrough guard."""
    nodes = df.select(
        F.col(id_col).cast("string").alias(out_id),
        F.col(embedding_col).alias(out_emb),
    )
    # products in f64 (cast BEFORE multiply): keeps the whole norm
    # computation bit-reproducible in SQL engines whose float ops are f32
    nrm = F.sqrt(
        F.aggregate(
            F.transform(
                out_emb, lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return nodes.select(
        out_id,
        F.transform(
            out_emb,
            lambda x: (x / F.when(nrm < 1e-9, F.lit(1.0)).otherwise(nrm))
            .cast("float"),
        ).alias(out_emb),
    )


def embedding_neardup_pairs(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    tau: float = 0.95,
    nlist: int = NLIST,
    nprobe: int = NPROBE,
    seed: int = SEED,
) -> DataFrame:
    """ALL cosine near-duplicate pairs (src, dst, cosine) with
    cosine >= tau (no top-k cap: a vector with many near-dups reports
    every one — the round-1 k cap silently missed pairs beyond the k-th
    neighbor, a latent contract failure vs the all-pairs oracle).

    Routed by tau.  At tau >= 0.8, banded sign-LSH (operators/lsh.py):
    sub-quadratic (candidates ~ n^2 * 2^-bits per band for unrelated
    pairs) with bands sized by lsh_params_for_tau for >= 0.99 per-pair
    recall — the path for a 10^12-doc near-dup dedup; ``nlist`` and
    ``nprobe`` are unused there.  Below 0.8 sign-LSH recall per band
    decays too fast, and an all-pairs-above-tau result is inherently
    candidate-heavy, so the IVF path keeps its completeness guarantee:
    a fully distributed IVF bucket self-join — executor-side sampled
    centroid training, probe-cell explode, ids-only candidate join,
    exact cosine verify.  No driver collect anywhere; candidate volume
    is the probe overlap (~nprobe/nlist of all pairs — quadratic ORDER,
    exhaustive/oracle tool), AQE skew join splits hot cells.
    nprobe=nlist degenerates to the exact all-pairs result.
    """
    unit = _unit_vectors(df, embedding_col, id_col)
    if tau >= 0.8:
        dim = len(df.select(embedding_col).first()[0])
        return hyperplane_lsh_pairs(
            unit, "_emb", "_nid", tau=tau, dim=dim, seed=seed,
        )

    from .ann import add_bucket, add_probes, train_centroids_distributed
    from .link import cosine_expr

    centroids = train_centroids_distributed(
        unit, nlist=nlist, seed=seed, embedding_col="_emb"
    )
    ent = add_bucket(unit, centroids, embedding_col="_emb")
    ent_ids = ent.select(F.col("_nid").alias("dst_id"), "bucket")
    probes = add_probes(
        unit, centroids, nprobe, embedding_col="_emb"
    ).select(F.col("_nid").alias("src_id"),
             F.explode("probes").alias("bucket"))
    # candidate pairs: ids only; canonical (least, greatest) orientation
    # BEFORE dedup so both probe directions collapse to one row
    cand = (
        probes.join(ent_ids, "bucket")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("src"),
            F.greatest("src_id", "dst_id").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )
    a = unit.select(F.col("_nid").alias("src"), F.col("_emb").alias("_ea"))
    b = unit.select(F.col("_nid").alias("dst"), F.col("_emb").alias("_eb"))
    return (
        cand.join(a, "src")
        .join(b, "dst")
        .withColumn("cosine", cosine_expr("_ea", "_eb"))
        .filter(F.col("cosine") >= tau)
        .select("src", "dst", "cosine")
    )


def setsim_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    tau_num: int = 4,
    tau_den: int = 5,
) -> DataFrame:
    """All pairs with token-SET Jaccard >= tau_num/tau_den via PREFIX
    FILTERING (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al.
    ICDE'08) — the exact-recall sub-quadratic set-similarity join:

    tokens are globally ordered by (document frequency asc, token asc);
    a record of L distinct tokens indexes only its first
    p = L - ceil(tau*L) + 1 tokens in that order (any pair sharing NO
    prefix token has intersection < tau*L <= the required overlap — the
    filter is LOSSLESS), so the inverted index is built on RARE tokens
    and candidate volume is bounded by rare-token df's, not vocabulary
    hot-words.  A length filter (tau*max(L) <= min(L)) prunes before
    verification; verification is an exact intersection count (one join
    on full token sets) with the threshold applied as the INTEGER
    cross-multiplication den*c >= num*(union) — tau is a rational, so
    every filter is exact integer arithmetic on every engine (a float
    ceil(0.8*5) rounds to 5 on doubles and silently shortens the
    prefix).  The reported jaccard is c/union in f64 — identical
    operands, bit-identical quotient cross-engine.

    Scale shape: the global token ranking is ONE vocabulary-sized
    window (vocabulary, not corpus — the same trade tf-idf makes); the
    prefix explode carries ~(1-tau)L tokens per doc; candidate joins
    shuffle ids+lengths only; no crossJoin anywhere.  Output
    (src, dst, jaccard), src < dst."""
    from pyspark.sql import Window

    num, den = int(tau_num), int(tau_den)

    def iceil(x):  # ceil(num*x/den) in exact integer arithmetic
        return F.expr(f"({num}L * {x} + {den - 1}L) div {den}L")

    toks = (
        df.select(
            F.col(id_col).cast("string").alias("_id"),
            F.explode(F.split(F.col(text_col), r"\s+")).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
        .distinct()
    )
    # global rarity rank: vocabulary-sized single-partition window (the
    # vocab is the SMALL side at any corpus size; see tfidf_keywords)
    dfreq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    rank = dfreq.select(
        "_tok",
        F.row_number().over(Window.orderBy("_df", "_tok")).alias("_rank"),
    )
    ranked = toks.join(rank, "_tok")
    lens = ranked.groupBy("_id").agg(F.count(F.lit(1)).alias("_len"))
    ranked = ranked.join(lens, "_id")
    pos = F.row_number().over(
        Window.partitionBy("_id").orderBy("_rank")
    )
    prefix = ranked.select(
        "_id", "_tok", "_len", pos.alias("_pos")
    ).filter(F.col("_pos") <= F.col("_len") - iceil("_len") + F.lit(1))

    a = prefix.select(
        F.col("_id").alias("src"), "_tok", F.col("_len").alias("_la")
    )
    b = prefix.select(
        F.col("_id").alias("dst"), "_tok", F.col("_len").alias("_lb")
    )
    cand = (
        a.join(b, "_tok")
        .filter(F.col("src") < F.col("dst"))
        .filter(
            F.least("_la", "_lb") >= iceil("greatest(_la, _lb)")
        )
        .select("src", "dst", "_la", "_lb")
        .dropDuplicates(["src", "dst"])
    )
    ta = toks.select(F.col("_id").alias("src"), "_tok")
    tb = toks.select(F.col("_id").alias("dst"), "_tok")
    inter = (
        cand.select("src", "dst")
        .join(ta, "src")
        .join(tb, ["dst", "_tok"])
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        cand.join(inter, ["src", "dst"])
        .filter(
            F.lit(den) * F.col("_c")
            >= F.lit(num) * (F.col("_la") + F.col("_lb") - F.col("_c"))
        )
        .withColumn(
            "jaccard",
            F.col("_c")
            / (F.col("_la") + F.col("_lb") - F.col("_c")).cast("double"),
        )
        .select("src", "dst", "jaccard")
    )


def setsim_prefix_sql(docs_rel: str, id_col: str, text_col: str,
                      tau_num: int = 4, tau_den: int = 5) -> str:
    """DuckDB twin of setsim_prefix_pairs: same global (df, token)
    ranking, same integer prefix/length/threshold arithmetic, same
    f64-quotient jaccard."""
    num, den = int(tau_num), int(tau_den)
    return f"""
WITH toks AS (
  SELECT DISTINCT CAST({id_col} AS VARCHAR) AS id, tok
  FROM (SELECT {id_col}, unnest(regexp_split_to_array({text_col}, '\\s+'))
               AS tok FROM {docs_rel})
  WHERE tok <> ''),
rnk AS (
  SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*), tok) AS r
  FROM toks GROUP BY tok),
ranked AS (
  SELECT t.id, t.tok, r.r,
         COUNT(*) OVER (PARTITION BY t.id) AS len,
         ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY r.r) AS pos
  FROM toks t JOIN rnk r ON r.tok = t.tok),
prefix AS (
  SELECT id, tok, len FROM ranked
  WHERE pos <= len - (({num} * len + {den - 1}) // {den}) + 1),
cand AS (
  SELECT DISTINCT a.id AS src, b.id AS dst, a.len AS la, b.len AS lb
  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.id < b.id
  WHERE LEAST(a.len, b.len)
        >= (({num} * GREATEST(a.len, b.len) + {den - 1}) // {den})),
inter AS (
  SELECT c.src, c.dst, c.la, c.lb, COUNT(*) AS ic
  FROM cand c
  JOIN toks x ON x.id = c.src
  JOIN toks y ON y.id = c.dst AND y.tok = x.tok
  GROUP BY c.src, c.dst, c.la, c.lb)
SELECT src, dst,
       CAST(ic AS DOUBLE) / CAST(la + lb - ic AS DOUBLE) AS jaccard
FROM inter
WHERE {den} * ic >= {num} * (la + lb - ic)
"""


def semantic_cluster_assign(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    nlist: int = NLIST,
    seed: int = SEED,
) -> DataFrame:
    """(_nid, _emb, bucket): unit-normalized embeddings with their
    k-means cluster id — the clustering stage of SemDeDup (Abbas et al.
    2023, arXiv:2303.09540).  Pure composition of existing machinery:
    _unit_vectors -> train_centroids_distributed (bounded seeded sample,
    no driver collect of the corpus) -> add_bucket (vectorized argmax
    assignment).  Split out so a contract oracle can stage the
    assignment and replay everything downstream in SQL."""
    from .ann import add_bucket, train_centroids_distributed

    unit = _unit_vectors(df, embedding_col, id_col)
    centroids = train_centroids_distributed(
        unit, nlist=nlist, seed=seed, embedding_col="_emb"
    )
    return add_bucket(unit, centroids, embedding_col="_emb")


def semantic_dedup_pairs(
    assigned: DataFrame, tau: float
) -> DataFrame:
    """(src, dst, cosine) pairs with cosine >= tau WITHIN each cluster of
    a semantic_cluster_assign output — SemDeDup's pruning set.  Unlike
    embedding_neardup_pairs (all pairs above tau, multi-probe), the
    within-cluster restriction is the POINT: candidate volume is
    sum(|cluster|^2) ~ n^2/nlist, linear in n for nlist ~ n/const, and
    cluster-boundary misses are accepted by design (the published
    operator's trade).  One shuffle on the cluster id; a degenerate hot
    cluster is a skewed join key that AQE's skew split handles.
    Embeddings ride the bucket join directly (every candidate needs both
    vectors for the verify — an ids-only pre-join would just add two
    more shuffles of the same rows)."""
    from .link import cosine_expr

    a = assigned.select(
        "bucket", F.col("_nid").alias("src"), F.col("_emb").alias("_ea")
    )
    b = assigned.select(
        "bucket", F.col("_nid").alias("dst"), F.col("_emb").alias("_eb")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("src") < F.col("dst"))
        .withColumn("cosine", cosine_expr("_ea", "_eb"))
        .filter(F.col("cosine") >= tau)
        .select("src", "dst", "cosine")
    )
