"""M3 gate: ANN (IVF-bucket-join) linking P/R >= 0.95 vs the exact oracle;
nprobe=nlist degenerates to exact (reference parity: query-index.py:30)."""

import numpy as np

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import documents_to_spark
from cli_p_spark.oracle.exact import golden_triples, precision_recall
from cli_p_spark.plans.pipeline import build_triples_ann


def test_ann_pipeline_pr_geq_095(spark, corpus_small):
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = documents_to_spark(spark, docs_pdf)
    triples, _ = build_triples_ann(docs, ents_pdf, cfg, nlist=100, nprobe=32)
    got = triples.toPandas()
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(got, golden)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_nprobe_equals_nlist_is_exact(spark, corpus_small):
    """Exhaustive probing == exact cosine top-k, the reference's own
    exactness knob (nprobe=nlist => IVF == flat scan)."""
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = documents_to_spark(spark, docs_pdf)
    nlist = 32
    triples, _ = build_triples_ann(
        docs, ents_pdf, cfg, nlist=nlist, nprobe=nlist
    )
    got = triples.toPandas()
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(got, golden)
    assert p == 1.0 and r == 1.0, (p, r)
    merged = got.merge(
        golden, on=["subj", "span_idx", "pred", "obj"], suffixes=("_s", "_o")
    )
    assert (merged["score_s"] - merged["score_o"]).abs().max() < 1e-9


def test_broadcast_and_join_strategies_agree(spark, corpus_small):
    """Two physical strategies, one logical operator: the IVF broadcast
    search and the bucket equi-join must produce identical links."""
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = documents_to_spark(spark, docs_pdf)
    key = ["subj", "span_idx", "pred", "obj"]
    a, _ = build_triples_ann(docs, ents_pdf, cfg, strategy="broadcast")
    b, _ = build_triples_ann(docs, ents_pdf, cfg, strategy="join")
    ra = sorted(map(tuple, a.select(*key).collect()))
    rb = sorted(map(tuple, b.select(*key).collect()))
    assert ra == rb


def test_link_strategies_share_column_order(spark, corpus_small):
    """Every link strategy returns keys + carry + (entity_id, score, rank)
    in that order, whatever k: the k=1 fast path of the bucket join, its
    k>1 window path and the broadcast IVF search."""
    from cli_p_spark.fixtures.generate import entities_to_spark
    from cli_p_spark.operators.ann import (
        link_ann_join,
        link_ivf_broadcast,
        train_centroids,
    )
    from cli_p_spark.plans.pipeline import (
        encode_mentions,
        explode_spans,
        split_skips,
    )

    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    ok, _ = split_skips(
        encode_mentions(explode_spans(documents_to_spark(spark, docs_pdf)),
                        cfg)
    )
    mentions = ok.select("doc_id", "span_idx", "kind", "embedding")
    entities = entities_to_spark(spark, ents_pdf)
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), nlist=16)
    k1 = link_ann_join(mentions, entities, centroids, k=1, nprobe=4)
    k3 = link_ann_join(mentions, entities, centroids, k=3, nprobe=4)
    bc = link_ivf_broadcast(mentions, ents_pdf, centroids, k=3, nprobe=4)
    expected = ["doc_id", "span_idx", "kind", "entity_id", "score", "rank"]
    assert k1.columns == k3.columns == bc.columns == expected
    assert k1.dtypes == k3.dtypes == bc.dtypes


def test_broadcast_ivf_pr_geq_095(spark, corpus_small):
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = documents_to_spark(spark, docs_pdf)
    triples, _ = build_triples_ann(
        docs, ents_pdf, cfg, nlist=100, nprobe=32, strategy="broadcast"
    )
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(triples.toPandas(), golden)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_fused_path_agrees_with_modular(spark, corpus_small):
    """Fused encode+search emits the same triples AND the same skips as
    the modular encode->link chain."""
    import numpy as np

    from cli_p_spark.fixtures.generate import documents_to_spark as to_spark
    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.operators.fused import fused_triples

    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = to_spark(spark, docs_pdf)
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=100, seed=cfg.seed)
    ft, fs = fused_triples(docs, ents_pdf, centroids, cfg, nprobe=32)
    mt, ms = build_triples_ann(docs, ents_pdf, cfg, strategy="broadcast")
    key = ["subj", "span_idx", "pred", "obj"]
    assert sorted(map(tuple, ft.select(*key).collect())) == sorted(
        map(tuple, mt.select(*key).collect())
    )
    skey = ["doc_id", "span_idx"]
    assert sorted(map(tuple, fs.select(*skey).collect())) == sorted(
        map(tuple, ms.select(*skey).collect())
    )


def test_triples_identical_across_partitionings(spark, corpus_small):
    """Partition-count independence: the link set must be bit-identical
    whether the corpus is processed in 3 or 16 partitions (the property
    that makes the two-cluster-size scaling run an apples-to-apples
    comparison and resume cluster-size-agnostic)."""
    import numpy as np

    from cli_p_spark.fixtures.generate import documents_to_spark as to_spark
    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.operators.fused import fused_triples

    docs_pdf, ents_pdf = corpus_small
    docs = to_spark(spark, docs_pdf)
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=100)
    key = ["subj", "span_idx", "pred", "obj", "score"]
    results = []
    for parts in (3, 16):
        t, _ = fused_triples(
            docs, ents_pdf, centroids, PipelineConfig(embed_partitions=parts)
        )
        results.append(sorted(map(tuple, t.select(*key).collect())))
    assert results[0] == results[1]


def test_f16_index_holds_pr_gate(spark, corpus_small):
    """Half-precision index storage (broadcast budget cliff): links keep
    P/R >= 0.95 vs the oracle despite ~1e-3 score rounding."""
    import numpy as np

    from cli_p_spark.fixtures.generate import documents_to_spark as to_spark
    from cli_p_spark.operators.ann import link_ivf_broadcast, train_centroids
    from cli_p_spark.plans.pipeline import (
        encode_mentions,
        explode_spans,
        split_skips,
        triples_from_links,
    )

    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = to_spark(spark, docs_pdf)
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=100)
    ok, _ = split_skips(encode_mentions(explode_spans(docs), cfg))
    mentions = ok.select("doc_id", "span_idx", "kind", "embedding")
    links = link_ivf_broadcast(
        mentions, ents_pdf, centroids, k=1, tau=cfg.tau, nprobe=32,
        index_dtype="f16",
    )
    got = triples_from_links(links).toPandas()
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=1)
    p, r = precision_recall(got, golden)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_distributed_centroid_training(spark, corpus_small):
    """Sample-based executor-side training (no full index collect)
    produces centroids good enough to hold the P/R gate."""
    from cli_p_spark.fixtures.generate import (
        documents_to_spark as to_spark,
        entities_to_spark,
    )
    from cli_p_spark.operators.ann import train_centroids_distributed
    from cli_p_spark.operators.fused import fused_triples

    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = to_spark(spark, docs_pdf)
    entities_df = entities_to_spark(spark, ents_pdf)
    centroids = train_centroids_distributed(entities_df, nlist=100)
    triples, _ = fused_triples(docs, ents_pdf, centroids, cfg, nprobe=32)
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
    from cli_p_spark.operators.fused import fused_triples

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
    a, _ = fused_triples(docs, ents_pdf, centroids, cfg)
    b, _ = fused_triples(docs, ents2, centroids2, cfg)
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
        link_ivf_broadcast,
        load_index_df,
        save_index,
        train_centroids,
    )

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
        out = link_ivf_broadcast(
            probes, live.toPandas(), c, k=3, tau=-1.0, nprobe=16
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
