"""M4 gate: canonicalization — duplicate-content mentions collapse to one
canonical id; canonical triples keep P/R vs oracle on (pred, obj)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import documents_to_spark
from cli_p_spark.operators.ann import train_centroids
from cli_p_spark.plans.pipeline import canonicalize, plan_kg


def _plan(spark, corpus_small):
    docs_pdf, ents_pdf = corpus_small
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), seed=PipelineConfig().seed)
    return plan_kg(documents_to_spark(spark, docs_pdf), ents_pdf, centroids,
                   embeddings=True)


def _cached_plans(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager() \
        .numCachedEntries()


@pytest.fixture(scope="module")
def kg(spark, corpus_small):
    """One plan and its canonicalization for the module, released after."""
    plan = _plan(spark, corpus_small)
    canon = canonicalize(plan)
    yield plan, canon
    canon.cache.unpersist()


def test_duplicate_mentions_share_canonical_id(kg):
    _, out = kg
    canon = {
        r["mention_id"]: r["canonical_id"] for r in out.canonical.collect()
    }
    # docEDGE_DUP repeats doc00000000's spans verbatim -> identical
    # embeddings (cos=1.0 >= tau_cc) -> same canonical id per span position
    dup_spans = [m for m in canon if m.startswith("docEDGE_DUP#")]
    assert dup_spans, "duplicate doc produced no mentions"
    for m in dup_spans:
        idx = m.split("#")[1]
        twin = f"doc00000000#{idx}"
        if twin in canon:
            assert canon[m] == canon[twin], (m, canon[m], canon[twin])


def test_canonical_covers_every_mention(kg):
    plan, out = kg
    n_mentions = plan.mentions.count()
    assert out.canonical.count() == n_mentions
    assert (
        out.canonical.filter(F.col("canonical_id").isNull()).count() == 0
    )


def test_canonical_triples_preserve_links(kg):
    """Canonical rewrite changes subj only — (pred, obj, span linkage)
    survives, and every original triple has a canonical twin."""
    plan, out = kg
    assert out.canonical_triples.count() == plan.triples.count()
    objs = lambda df: sorted(  # noqa: E731
        (r["pred"], r["obj"]) for r in df.select("pred", "obj").collect()
    )
    assert objs(out.canonical_triples) == objs(plan.triples)


def test_canonicalize_releases_its_cache(spark, corpus_small):
    """canonicalize caches the fused pass for its consumers and hands the
    release to the caller: after cache.unpersist() the session holds as
    many cached plans as before the call."""
    before = _cached_plans(spark)
    plan = _plan(spark, corpus_small)
    out = canonicalize(plan)
    out.canonical_triples.count()
    assert _cached_plans(spark) == before + 1
    out.cache.unpersist()
    assert _cached_plans(spark) == before


def test_mention_edges_recall_near_tau_cc(spark):
    """mention_edges sizes its LSH bands for tau_cc: mention pairs
    planted at cosine 0.92, just above tau_cc = 0.90, become edges with
    recall >= 0.97 (fixed 16 x 16 bands find ~85% of them)."""
    from cli_p_spark.plans.pipeline import mention_edges

    cfg, n, cos = PipelineConfig(), 400, 0.92
    rng = np.random.default_rng(5)
    a = rng.standard_normal((n, cfg.dim))
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    ortho = rng.standard_normal((n, cfg.dim))
    ortho -= (ortho * a).sum(axis=1, keepdims=True) * a
    ortho /= np.linalg.norm(ortho, axis=1, keepdims=True)
    b = cos * a + np.sqrt(1 - cos * cos) * ortho
    rows = [(f"p{i:04d}", j, v.astype(np.float32).tolist())
            for i in range(n) for j, v in enumerate((a[i], b[i]))]
    mentions = spark.createDataFrame(
        rows, "doc_id string, span_idx int, embedding array<float>")
    edges = {(r["src"], r["dst"])
             for r in mention_edges(mentions, cfg).collect()}
    planted = {(f"p{i:04d}#0", f"p{i:04d}#1") for i in range(n)}
    assert edges <= planted
    assert len(edges) >= 0.97 * n, len(edges) / n
