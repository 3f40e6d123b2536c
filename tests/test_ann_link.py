"""M3 gate: ANN (IVF) linking P/R >= 0.95 vs the exact oracle; every
link strategy is exact at nprobe=nlist (reference parity:
query-index.py:30) and the strategies agree with each other below it."""

from dataclasses import replace

import numpy as np
import pytest

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import documents_to_spark
from cli_p_spark.oracle.exact import golden_triples, precision_recall
from cli_p_spark.plans.lineage import run_pipeline
from cli_p_spark.plans.pipeline import plan_kg


def test_ann_pipeline_pr_geq_095(spark, corpus_small, tmp_path):
    """The production path: run_pipeline's triples/ at the reference's
    nlist/nprobe hold the P/R gate."""
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = documents_to_spark(spark, docs_pdf)
    out = str(tmp_path / "kg")
    run_pipeline(spark, docs, ents_pdf, out, cfg, nlist=100, nprobe=32)
    got = spark.read.parquet(f"{out}/triples").toPandas()
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(got, golden)
    assert p >= 0.95 and r >= 0.95, (p, r)


_NLIST = 16
_PARTS = 16
_KEY = ["subj", "span_idx", "pred", "obj", "rank"]


def _strategies(spark, corpus_small, nprobe, out_dir):
    """One logical linker, five physical strategies: the broadcast IVF
    search (``encode_and_link`` on the ``embedding`` column), the bucket
    equi-join (k=1 fast path and k>1 window path), the fused plan_kg pass
    and run_pipeline's triples/ (written under ``out_dir``), which
    plan_kg builds too.  Returns each strategy's links
    (the join and broadcast operators only), triples keyed by (name, k),
    and the fused and modular skips."""
    from cli_p_spark.fixtures.generate import entities_to_spark
    from cli_p_spark.operators.ann import link_ann_join, train_centroids
    from cli_p_spark.operators.fused import encode_and_link
    from cli_p_spark.plans.pipeline import (
        encode_mentions,
        explode_spans,
        split_skips,
        triples_from_links,
    )

    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = documents_to_spark(spark, docs_pdf)
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), nlist=_NLIST,
        seed=cfg.seed)
    ok, modular_skips = split_skips(encode_mentions(explode_spans(docs), cfg))
    mentions = ok.select("doc_id", "span_idx", "kind", "embedding")
    entities = entities_to_spark(spark, ents_pdf)
    links = {
        ("encode_and_link", 3): encode_and_link(
            mentions, ents_pdf, centroids, replace(cfg, k=3), nprobe),
        ("link_ann_join", 1): link_ann_join(
            mentions, entities, centroids, k=1, tau=cfg.tau, nprobe=nprobe),
        ("link_ann_join", 3): link_ann_join(
            mentions, entities, centroids, k=3, tau=cfg.tau, nprobe=nprobe),
    }
    triples = {name: triples_from_links(df) for name, df in links.items()}
    # part_id is the KG plan's write key, not a triple column.  Both KG
    # entries place spans in the same n_parts partitions: the exhaustive
    # branch's f64 GEMM rounds a score by the batch its row lands in
    plan = plan_kg(docs, ents_pdf, centroids, cfg, nprobe, n_parts=_PARTS)
    triples[("plan_kg", cfg.k)] = plan.triples.drop("part_id")
    run_pipeline(spark, docs, ents_pdf, out_dir, cfg, n_parts=_PARTS,
                 nlist=_NLIST, nprobe=nprobe)
    triples[("run_pipeline", cfg.k)] = spark.read.parquet(
        f"{out_dir}/triples").drop("part_id")
    return links, triples, plan.skips.drop("part_id"), modular_skips


def _assert_pipeline_equals_plan(triples):
    """run_pipeline's stored triples are plan_kg's rows, scores bit for
    bit."""
    k = PipelineConfig().k
    rows = [sorted(map(tuple, triples[(name, k)].collect()))
            for name in ("plan_kg", "run_pipeline")]
    assert rows[0] == rows[1] and rows[0]


def _assert_same_rows(got, ref, name):
    assert sorted(map(tuple, got[_KEY].itertuples(index=False))) == sorted(
        map(tuple, ref[_KEY].itertuples(index=False))), name
    merged = got.merge(ref, on=_KEY, suffixes=("_s", "_o"))
    assert len(merged) == len(got) > 0, name
    assert (merged["score_s"] - merged["score_o"]).abs().max() < 1e-9, name


def test_nprobe_equals_nlist_is_exact(spark, corpus_small, tmp_path):
    """Exhaustive probing == exact cosine top-k, the reference's own
    exactness knob (nprobe=nlist => IVF == flat scan): every strategy
    returns the oracle's keys and ranks, scores within 1e-9."""
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    _, triples, _, _ = _strategies(spark, corpus_small, nprobe=_NLIST,
                                   out_dir=str(tmp_path / "kg"))
    for (name, k), t in triples.items():
        golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=k)
        _assert_same_rows(t.toPandas(), golden, (name, k))
    _assert_pipeline_equals_plan(triples)


def test_broadcast_and_join_strategies_agree(spark, corpus_small, tmp_path):
    """Below nlist the IVF broadcast search and the bucket equi-join (both
    its k=1 and k>1 paths) produce identical links."""
    _, triples, _, _ = _strategies(spark, corpus_small, nprobe=4,
                                   out_dir=str(tmp_path / "kg"))
    ref = triples[("encode_and_link", 3)].toPandas()
    for name, k in [("link_ann_join", 1), ("link_ann_join", 3)]:
        got = triples[(name, k)].toPandas()
        _assert_same_rows(got, ref[ref["rank"] <= k], (name, k))


def test_fused_path_agrees_with_modular(spark, corpus_small, tmp_path):
    """The fused encode+search pass emits the same triples as the modular
    encode->link chain, and quarantines the same spans in the same skips
    schema; run_pipeline stores exactly the fused pass's triples."""
    _, triples, fused_skips, modular_skips = _strategies(
        spark, corpus_small, nprobe=4, out_dir=str(tmp_path / "kg"))
    k = PipelineConfig().k
    ref = triples[("encode_and_link", 3)].toPandas()
    for name in ("plan_kg", "run_pipeline"):
        _assert_same_rows(triples[(name, k)].toPandas(),
                          ref[ref["rank"] <= k], (name, k))
    _assert_pipeline_equals_plan(triples)
    assert fused_skips.dtypes == modular_skips.dtypes
    assert sorted(map(tuple, fused_skips.collect())) == sorted(
        map(tuple, modular_skips.collect()))


def test_link_strategies_share_column_order(spark, corpus_small, tmp_path):
    """Every link operator returns keys + carry + (entity_id, score, rank)
    in that order, whatever k, and every strategy's triples (the fused
    pass's and run_pipeline's included) share column order and
    dtypes."""
    links, triples, _, _ = _strategies(spark, corpus_small, nprobe=4,
                                       out_dir=str(tmp_path / "kg"))
    expected = ["doc_id", "span_idx", "kind", "entity_id", "score", "rank"]
    for df in links.values():
        assert df.columns == expected
    assert len({tuple(df.dtypes) for df in links.values()}) == 1
    assert len({tuple(t.dtypes) for t in triples.values()}) == 1


@pytest.mark.parametrize("nprobe", [4, _NLIST])
def test_embedding_mode_matches_content_mode(spark, corpus_small, nprobe):
    """``encode_and_link`` over encode_mentions' stored vectors returns
    the rows it returns when it encodes the same spans' content itself,
    scores bit for bit, at k=3 both pruned and exhaustive.  A long
    pass-through column keeps its type, a NULL embedding yields no row,
    and the embedding mode has no skip_reason column."""
    from pyspark.sql import functions as F

    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.operators.fused import encode_and_link
    from cli_p_spark.plans.pipeline import encode_mentions, explode_spans

    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig(k=3)
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), nlist=_NLIST,
        seed=cfg.seed)
    docs = documents_to_spark(spark, docs_pdf)
    spans = encode_mentions(explode_spans(docs), cfg).select(
        F.xxhash64("doc_id", "span_idx").alias("probe_id"),
        "doc_id", "span_idx", "kind", "content", "embedding",
    ).persist()
    try:
        by_text = encode_and_link(spans.drop("embedding"), ents_pdf,
                                  centroids, cfg, nprobe)
        by_vec = encode_and_link(spans.drop("content"), ents_pdf,
                                 centroids, cfg, nprobe)
        keys = ["probe_id", "doc_id", "span_idx", "kind"]
        assert by_vec.columns == [*keys, "entity_id", "score", "rank"]
        assert by_vec.dtypes[:4] == spans.select(*keys).dtypes
        assert dict(by_vec.dtypes)["probe_id"] == "bigint"

        links = by_text.filter(F.col("entity_id").isNotNull())
        want = sorted(map(tuple, links.select(by_vec.columns).collect()))
        got = sorted(map(tuple, by_vec.collect()))
        assert got == want and {r[-1] for r in got} == {1, 2, 3}

        null_ids = {r[0] for r in spans.filter(
            F.col("embedding").isNull()).select("probe_id").collect()}
        skipped = {r[0] for r in by_text.filter(
            F.col("skip_reason").isNotNull()).select("probe_id").collect()}
        assert null_ids and null_ids == skipped
        assert not null_ids & {r[0] for r in got}
    finally:
        spans.unpersist()


def test_broadcast_ivf_pr_geq_095(spark, corpus_small):
    from cli_p_spark.operators.ann import train_centroids

    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = documents_to_spark(spark, docs_pdf)
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), nlist=100, seed=cfg.seed)
    triples = plan_kg(docs, ents_pdf, centroids, cfg, nprobe=32).triples
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(triples.toPandas(), golden)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_triples_identical_across_partitionings(spark, corpus_small):
    """Partition-count independence: the link set must be bit-identical
    whether the corpus is processed in 3 or 16 partitions (the property
    that makes the two-cluster-size scaling run an apples-to-apples
    comparison and resume cluster-size-agnostic)."""
    import numpy as np

    from cli_p_spark.fixtures.generate import documents_to_spark as to_spark
    from cli_p_spark.operators.ann import train_centroids

    docs_pdf, ents_pdf = corpus_small
    docs = to_spark(spark, docs_pdf)
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=100)
    key = ["subj", "span_idx", "pred", "obj", "score"]
    results = []
    for parts in (3, 16):
        t = plan_kg(
            docs, ents_pdf, centroids, PipelineConfig(embed_partitions=parts)
        ).triples
        results.append(sorted(map(tuple, t.select(*key).collect())))
    assert results[0] == results[1]


def test_exact_scores_identical_across_partitionings(spark, corpus_small):
    """At nprobe = nlist (the exact linker) the triples, scores to the
    last bit included, do not depend on the partition count: every score
    is the per-row f64 rescore, not the per-cell GEMM's, whose last bit
    depends on the rows it is multiplied with."""
    from cli_p_spark.operators.ann import train_centroids

    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), nlist=16)
    key = ["subj", "span_idx", "pred", "obj", "score", "rank"]
    results = [
        sorted(map(tuple, plan_kg(
            docs, ents_pdf, centroids, nprobe=len(centroids), n_parts=parts,
        ).triples.select(*key).collect()))
        for parts in (16, 32)
    ]
    assert results[0] and results[0] == results[1]


def test_distributed_centroid_training(spark, corpus_small):
    """Sample-based executor-side training (no full index collect)
    produces centroids good enough to hold the P/R gate."""
    from cli_p_spark.fixtures.generate import (
        documents_to_spark as to_spark,
        entities_to_spark,
    )
    from cli_p_spark.operators.ann import train_centroids_distributed

    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = to_spark(spark, docs_pdf)
    entities_df = entities_to_spark(spark, ents_pdf)
    centroids = train_centroids_distributed(entities_df, nlist=100)
    triples = plan_kg(docs, ents_pdf, centroids, cfg, nprobe=32).triples
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(triples.toPandas(), golden)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_index_save_load_roundtrip(spark, corpus_small, tmp_path):
    """write_index/read_index parity (build-index.py:109,
    query-index.py:29): links from a reloaded index == links from the
    in-memory index."""
    import numpy as np

    from cli_p_spark.fixtures.generate import documents_to_spark as to_spark
    from cli_p_spark.operators.ann import (
        load_index,
        save_index,
        train_centroids,
    )

    docs_pdf, ents_pdf = corpus_small
    docs = to_spark(spark, docs_pdf)
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=100)
    idx_dir = str(tmp_path / "index")
    save_index(spark, idx_dir, ents_pdf, centroids)
    ents2, centroids2 = load_index(spark, idx_dir)
    assert np.allclose(centroids, centroids2)
    cfg = PipelineConfig()
    key = ["subj", "span_idx", "pred", "obj"]
    a = plan_kg(docs, ents_pdf, centroids, cfg).triples
    b = plan_kg(docs, ents2, centroids2, cfg).triples
    assert sorted(map(tuple, a.select(*key).collect())) == sorted(
        map(tuple, b.select(*key).collect())
    )


def test_centroids_deterministic():
    from cli_p_spark.operators.ann import train_centroids

    rng = np.random.default_rng(7)
    X = rng.standard_normal((500, 16))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    a = train_centroids(X, nlist=20)
    b = train_centroids(X, nlist=20)
    assert np.array_equal(a, b)


def _spark_entities(spark, pdf):
    return spark.createDataFrame(
        [
            (str(i), [float(x) for x in v])
            for i, v in zip(pdf["entity_id"], pdf["embedding"])
        ],
        "entity_id string, embedding array<float>",
    )


def test_index_append_matches_full_rebuild(spark, tmp_path):
    """Incremental index maintenance (the reference's monolithic-rebuild
    gap, build-index.py:68-109): appending new vectors against FROZEN
    centroids must produce search results IDENTICAL to a full rebuild on
    the same centroids at nprobe=nlist, and replaying a batch must be a
    no-op (idempotent delta publish)."""
    import numpy as np

    from cli_p_spark.fixtures.generate import make_entities
    from cli_p_spark.operators.ann import (
        index_append,
        load_index_df,
        save_index,
        train_centroids,
    )
    from cli_p_spark.operators.fused import encode_and_link

    ents = make_entities(200)
    base_pdf, new_pdf = ents.iloc[:160], ents.iloc[160:]
    centroids = train_centroids(
        np.stack(base_pdf["embedding"].to_numpy()), nlist=16
    )
    idx = str(tmp_path / "idx")
    save_index(spark, idx, base_pdf, centroids)
    stats = index_append(
        spark, idx, _spark_entities(spark, new_pdf), batch_id=1
    )
    assert stats["n_total"] == 200

    # full rebuild on the SAME frozen centroids, separate store
    idx_full = str(tmp_path / "idx_full")
    save_index(spark, idx_full, ents, centroids)

    probes = spark.createDataFrame(
        [
            (str(i), [float(x) for x in v])
            for i, v in enumerate(ents["embedding"].iloc[5:25])
        ],
        "probe_id string, embedding array<float>",
    )
    key = ["probe_id", "rank", "entity_id"]

    def search(store_dir):
        live, c = load_index_df(spark, store_dir)
        out = encode_and_link(
            probes, live.toPandas(), c, PipelineConfig(k=3, tau=-1.0), 16
        )
        return sorted(map(tuple, out.select(*key).collect()))

    assert search(idx) == search(idx_full)
    # the appended entities are actually searchable (not just counted)
    hit_ids = {r[2] for r in search(idx)}
    assert hit_ids & set(new_pdf["entity_id"])

    # replay the same batch: idempotent (partition overwrite, no dupes)
    index_append(spark, idx, _spark_entities(spark, new_pdf), batch_id=1)
    live, _ = load_index_df(spark, idx)
    assert live.count() == 200
    assert search(idx) == search(idx_full)


def test_index_append_drift_gate(spark, tmp_path):
    """Staleness gate: a skewed append (every new vector lands in one
    cell) must trip needs_retrain once max-cell drift exceeds the
    factor."""
    import numpy as np

    from cli_p_spark.fixtures.generate import make_entities
    from cli_p_spark.operators.ann import (
        index_append,
        save_index,
        train_centroids,
    )

    ents = make_entities(160)
    centroids = train_centroids(
        np.stack(ents["embedding"].to_numpy()), nlist=16
    )
    idx = str(tmp_path / "idx")
    save_index(spark, idx, ents, centroids)
    # 200 copies of one existing vector -> one hot cell
    hot = [float(x) for x in ents["embedding"].iloc[0]]
    skewed = spark.createDataFrame(
        [(f"hot{i:05d}", hot) for i in range(200)],
        "entity_id string, embedding array<float>",
    )
    stats = index_append(spark, idx, skewed, batch_id=2, retrain_factor=2.0)
    assert stats["needs_retrain"] is True
    assert stats["max_cell"] >= 200
