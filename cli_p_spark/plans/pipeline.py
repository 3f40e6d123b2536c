"""End-to-end KG construction plan (SURVEY.md §2.3 stages 1-3,5).

    documents -> posexplode(spans)            # order kept via span_idx
              -> explicit repartition          # north_rule, pre-embedding
              -> encode pandas UDF             # build-index.py:46-51 semantics
              -> split: ok rows | skips        # build-index.py:53-61
              -> link vs entity index          # query-index.py:111
              -> (subj, pred, obj) triples

Every step is declarative DataFrame API; the only Python is inside
Arrow-batched UDFs (encode, GEMM search).  At 100 TB the plan has exactly
ONE shuffle (the explicit repartition before encode — and even that is
optional when input partitioning is already balanced); linking against a
broadcast index adds none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.encoder import make_encode_udf
from ..operators.link import link_exact_broadcast

MENTION_COLS = ["doc_id", "span_idx", "kind", "offset", "content"]


def explode_spans(documents: DataFrame) -> DataFrame:
    """One row per span; span_idx = array position (order preservation).

    posexplode keeps the in-array position — the per-row invariant
    (kind, text, media_ref, order) is reconstructible (see
    reassemble_spans), unlike explode+shuffle which would lose it.
    """
    return documents.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_spans(exploded: DataFrame) -> DataFrame:
    """Inverse of explode_spans — rebuilds documents(doc_id, spans) with the
    original span order, for the span-sequence-equality invariant test."""
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("span_idx", "kind", "text", "media_ref", "offset")
                )
            ).alias("_s")
        )
        .select(
            "doc_id",
            F.transform(
                "_s",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def with_content(spans: DataFrame) -> DataFrame:
    """content = text|media_ref by kind: the two modalities of
    query-index.py:86-108 go through ONE encoder."""
    return spans.withColumn(
        "content",
        F.when(F.col("kind") == "text", F.col("text")).otherwise(
            F.col("media_ref")
        ),
    )


def encode_mentions(
    spans: DataFrame, cfg: PipelineConfig = PipelineConfig()
) -> DataFrame:
    """Attach embeddings of each span's content (``with_content``).

    Explicit repartition before the embedding stage (north_rule): the
    encode UDF is the expensive stage, so balance it across the cluster
    regardless of upstream file layout.
    """
    encode = make_encode_udf(dim=cfg.dim, seed=cfg.seed)
    return (
        with_content(spans)
        .repartition(cfg.embed_partitions)
        .withColumn("embedding", encode("content"))
    )


def split_skips(encoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok_mentions, skips).  Null embedding = simulated decode failure ->
    quarantined, run continues (build-index.py:53-61 / skip_db)."""
    ok = encoded.filter(F.col("embedding").isNotNull())
    skips = encoded.filter(F.col("embedding").isNull()).select(
        "doc_id", "span_idx", "kind", "media_ref",
        F.lit("decode_error").alias("reason"),
    )
    return ok, skips


def triples_from_links(links: DataFrame) -> DataFrame:
    """(subj, pred, obj, score, span_idx) per SURVEY.md §2.3: subj=doc_id,
    pred = mentions|depicts by span kind, obj = linked entity."""
    return links.select(
        F.col("doc_id").alias("subj"),
        F.when(F.col("kind") == "text", F.lit("mentions"))
        .otherwise(F.lit("depicts"))
        .alias("pred"),
        F.col("entity_id").alias("obj"),
        F.col("score"),
        F.col("span_idx"),
        F.col("rank"),
    )


def build_triples_ann(
    documents: DataFrame,
    entities_pdf,
    cfg: PipelineConfig = PipelineConfig(),
    nlist: int = 100,
    nprobe: int = 32,
    strategy: str = "broadcast",
) -> tuple[DataFrame, DataFrame]:
    """M3: ANN linking (operators/ann.py).

    strategy='broadcast': IVF search vs broadcast bucketed index inside
    mapInPandas — zero shuffle, the default (entity index fits executors,
    the reference's own regime).  strategy='join': bucket equi-join — for
    entity sides too big to broadcast.  Identical results (both tested).
    nlist/nprobe defaults are the reference's own (build-index.py:81,
    query-index.py:30); nprobe=nlist degenerates to exact search.
    P/R vs the exact oracle gated >=0.95 in tests/test_ann_link.py.
    """
    import numpy as np

    from ..fixtures.generate import entities_to_spark
    from ..operators.ann import (
        link_ann_join,
        link_ivf_broadcast,
        train_centroids,
    )

    spans = explode_spans(documents)
    encoded = encode_mentions(spans, cfg)
    ok, skips = split_skips(encoded)
    mentions = ok.select("doc_id", "span_idx", "kind", "embedding")

    emat = np.stack(entities_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=nlist, seed=cfg.seed)

    if strategy == "broadcast":
        links = link_ivf_broadcast(
            mentions, entities_pdf, centroids,
            k=cfg.k, tau=cfg.tau, nprobe=nprobe,
        )
    else:
        entities = entities_to_spark(documents.sparkSession, entities_pdf)
        links = link_ann_join(
            mentions, entities, centroids, k=cfg.k, tau=cfg.tau, nprobe=nprobe
        )
    return triples_from_links(links), skips


def mention_edges(
    mentions: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
) -> DataFrame:
    """Mention-mention high-similarity pairs — the reference's
    query-by-example ('i ID', query-index.py:86-99) run for EVERY mention
    at once.  Returns (src, dst) with src < dst.

    Candidate generation is banded sign-LSH (operators/lsh.py), not the
    IVF search: all-pairs-above-tau over 10^12 mentions needs the
    sub-quadratic candidate space LSH banding gives at high tau_cc; the
    IVF probe structure only cuts the quadratic space by ~nlist/nprobe."""
    from ..operators.lsh import hyperplane_lsh_pairs

    mid = F.concat_ws("#", "doc_id", "span_idx")
    nodes = mentions.select(mid.alias("mention_id"), "embedding")
    return hyperplane_lsh_pairs(
        nodes, "embedding", "mention_id",
        tau=cfg.tau_cc, dim=cfg.dim, seed=cfg.seed,
    ).select("src", "dst")


def build_kg(
    documents: DataFrame,
    entities_pdf,
    cfg: PipelineConfig = PipelineConfig(),
    nlist: int = 100,
    nprobe: int = 32,
) -> dict[str, DataFrame]:
    """Full KG construction (north_star stages 1-5): returns dict of
    DataFrames: triples (subj=doc_id), canonical (mention_id ->
    canonical_id), canonical_triples (subj=canonical mention id), skips.

    The mention DataFrame is cached: it feeds three consumers (entity
    linking, the CC self-join, and the canonical mapping) — recomputing
    the encode UDF three times would triple the dominant cost.
    """
    import numpy as np

    from ..fixtures.generate import entities_to_spark
    from ..operators.ann import link_ann_join, train_centroids
    from ..operators.ccomp import canonical_mapping, connected_components

    spans = explode_spans(documents)
    encoded = encode_mentions(spans, cfg)
    ok, skips = split_skips(encoded)
    mentions = ok.select("doc_id", "span_idx", "kind", "embedding").cache()

    emat = np.stack(entities_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=nlist, seed=cfg.seed)
    entities = entities_to_spark(documents.sparkSession, entities_pdf)

    links = link_ann_join(
        mentions, entities, centroids, k=cfg.k, tau=cfg.tau, nprobe=nprobe
    )
    triples = triples_from_links(links)

    # canonicalization: LSH-banded near-dup edges -> CC -> canonical ids
    edges = mention_edges(mentions, cfg)
    comps = connected_components(edges)
    all_mentions = mentions.select(
        F.concat_ws("#", "doc_id", "span_idx").alias("node")
    )
    canonical = canonical_mapping(comps, all_mentions).select(
        F.col("node").alias("mention_id"), "canonical_id"
    )

    canonical_triples = (
        triples.withColumn(
            "mention_id", F.concat_ws("#", "subj", "span_idx")
        )
        .join(canonical, "mention_id")
        .select(
            F.col("canonical_id").alias("subj"),
            "pred",
            "obj",
            "score",
            "span_idx",
            "rank",
        )
    )
    return {
        "triples": triples,
        "skips": skips,
        "edges": edges,
        "canonical": canonical,
        "canonical_triples": canonical_triples,
        "mentions": mentions,
    }


def build_triples_exact(
    documents: DataFrame,
    entities_pdf,
    cfg: PipelineConfig = PipelineConfig(),
) -> tuple[DataFrame, DataFrame]:
    """M1 flagship: exact (broadcast-GEMM) linking. Returns (triples, skips)."""
    spans = explode_spans(documents)
    encoded = encode_mentions(spans, cfg)
    ok, skips = split_skips(encoded)
    mentions = ok.select("doc_id", "span_idx", "kind", "embedding")
    links = link_exact_broadcast(
        mentions, entities_pdf, k=cfg.k, tau=cfg.tau
    )
    return triples_from_links(links), skips
