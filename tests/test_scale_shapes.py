"""Scale-shape checks: the reference's real dimensionality (512) and a
large entity index behave identically to the 64-d test configuration."""

import numpy as np

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import corpus, documents_to_spark
from cli_p_spark.oracle.exact import golden_triples, precision_recall
from cli_p_spark.operators.ann import train_centroids
from cli_p_spark.plans.pipeline import plan_kg


def test_dim512_reference_dimensionality(spark, exact_triples):
    """DIM=512 (CLIP ViT-B/32, build-index.py:77,81): exact pipeline
    P/R = 1.0 at the reference's real vector width."""
    cfg = PipelineConfig(dim=512)
    docs_pdf, ents_pdf = corpus(n_docs=60, n_entities=80, dim=512)
    docs = documents_to_spark(spark, docs_pdf)
    triples, _ = exact_triples(docs, ents_pdf, cfg)
    golden = golden_triples(docs_pdf, ents_pdf, dim=512, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(triples.toPandas(), golden)
    assert p == 1.0 and r == 1.0, (p, r)


def test_large_entity_index_ann(spark):
    """E=20k entities (a 20x bigger index than the default fixtures):
    ANN at reference defaults still holds the P/R gate, and the broadcast
    payload stays the right structure."""
    cfg = PipelineConfig()
    docs_pdf, ents_pdf = corpus(n_docs=80, n_entities=20000)
    docs = documents_to_spark(spark, docs_pdf)
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), nlist=100, seed=cfg.seed
    )
    triples = plan_kg(docs, ents_pdf, centroids, cfg, nprobe=32).triples
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(triples.toPandas(), golden)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_topk_k10_matches_oracle(spark, exact_triples):
    """k=10 ranked lists (the reference's default is k=50 pages of this,
    query-index.py:35): ordering and membership vs the exact oracle.

    tau=0.01 excludes the zero-vector edge doc, whose 300-way all-zero
    score tie has no defined order (faiss returns arbitrary order for
    full ties too; our tie-break is only guaranteed within the candidate
    margin)."""
    cfg = PipelineConfig(k=10, tau=0.01)
    docs_pdf, ents_pdf = corpus(n_docs=40, n_entities=300)
    docs = documents_to_spark(spark, docs_pdf)
    triples, _ = exact_triples(docs, ents_pdf, cfg)
    got = triples.toPandas()
    golden = golden_triples(docs_pdf, ents_pdf, tau=0.01, k=10)
    key = ["subj", "span_idx", "pred", "obj", "rank"]
    a = sorted(map(tuple, got[key].itertuples(index=False)))
    b = sorted(map(tuple, golden[key].itertuples(index=False)))
    assert a == b


def test_mention_generator_survives_cluster_eviction(spark):
    """Regression (round-4 ADVICE): cluster_base eviction past 100k
    distinct clusters per partition must not KeyError (evict happens
    BEFORE insert now), and results stay deterministic across the
    eviction boundary (regeneration is seeded)."""
    from cli_p_spark.fixtures.distributed import distributed_mentions

    kw = dict(
        n_mentions=450_000, dim=8, cluster_w=2, hub_copies=10,
        partitions=2,  # ~112k clusters/partition -> crosses the bound
    )
    m = distributed_mentions(spark, **kw)
    n = m.count()  # would KeyError mid-task before the fix
    assert n == 450_000
    a = sorted(
        (r["mention_id"], tuple(r["embedding"]))
        for r in m.filter("mention_id like 'm00000000%'").collect()
    )
    b = sorted(
        (r["mention_id"], tuple(r["embedding"]))
        for r in distributed_mentions(spark, **kw)
        .filter("mention_id like 'm00000000%'").collect()
    )
    assert a == b and len(a) == 10
