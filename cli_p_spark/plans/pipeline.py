"""End-to-end KG construction plan (SURVEY.md §2.3 stages 1-3,5).

    documents -> posexplode(spans)            # order kept via span_idx
              -> explicit repartition          # north_rule, pre-embedding
              -> fused encode + IVF search     # build-index.py:46-51 +
                                               # query-index.py:111
              -> split: links | skips          # build-index.py:53-61
              -> (subj, pred, obj) triples

Every step is declarative DataFrame API; the only Python is the one
Arrow-batched fused pass (operators/fused.py) that encodes each span and
searches the broadcast ``_IvfIndex``, exact when nprobe >= nlist.  ONE
shuffle (the explicit repartition before encode); the broadcast index
adds none.  ``build_triples``, ``build_kg`` and the resumable
``run_pipeline`` (plans/lineage.py) all run this pass, and their skips
share run_pipeline's skips/ columns (doc_id, span_idx, kind, media_ref,
reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.encoder import make_encode_udf
from ..operators.fused import encode_and_link

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


def _fused_pass(documents: DataFrame, entities_pdf, centroids,
                cfg: PipelineConfig, nprobe: int,
                embeddings: bool = False) -> DataFrame:
    """documents -> encode_and_link rows, after the one explicit
    pre-embed repartition; media_ref rides along for the skips."""
    spans = (
        with_content(explode_spans(documents))
        .repartition(cfg.embed_partitions)
        .select("doc_id", "span_idx", "kind", "content", "media_ref")
    )
    return encode_and_link(
        spans, entities_pdf, centroids, cfg, nprobe,
        keep=("media_ref",), embeddings=embeddings,
    )


def _split_fused(fused: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(triples, skips) of a fused pass; skips in the skips/ schema."""
    links = fused.filter(F.col("entity_id").isNotNull())
    skips = fused.filter(F.col("skip_reason").isNotNull()).select(
        "doc_id", "span_idx", "kind", "media_ref",
        F.col("skip_reason").alias("reason"),
    )
    return triples_from_links(links), skips


def build_triples(
    documents: DataFrame,
    entities_pdf,
    centroids,
    cfg: PipelineConfig = PipelineConfig(),
    nprobe: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """documents -> (triples, skips) through the fused pass.

    Exact (f64, ties by entity_id) when nprobe >= len(centroids); IVF
    with the reference's nprobe knob (query-index.py:30) below that."""
    return _split_fused(
        _fused_pass(documents, entities_pdf, centroids, cfg, nprobe)
    )


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

    One fused pass keeps the embeddings and is persisted, then split
    into mentions, links and skips as run_pipeline splits it: the
    mentions feed the CC edges and the canonical mapping, and
    recomputing the encode per consumer would multiply the dominant cost.
    """
    import numpy as np

    from ..operators.ann import train_centroids
    from ..operators.ccomp import canonical_mapping, connected_components

    emat = np.stack(entities_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=nlist, seed=cfg.seed)
    fused = _fused_pass(
        documents, entities_pdf, centroids, cfg, nprobe, embeddings=True
    ).persist()
    mentions = fused.filter(F.col("embedding").isNotNull()).select(
        "doc_id", "span_idx", "kind", "embedding"
    )
    triples, skips = _split_fused(fused)

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

