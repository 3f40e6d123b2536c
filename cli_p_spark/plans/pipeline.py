"""End-to-end KG construction plan (SURVEY.md §2.3 stages 1-3,5).

    documents -> posexplode(spans)            # order kept via span_idx
              -> part_id = pmod(xxhash64(doc_id), n_parts)
              -> placement by part_id          # north_rule, pre-embedding
              -> fused encode + IVF search     # build-index.py:46-51 +
                                               # query-index.py:111
              -> split: mentions | triples | skips   # build-index.py:53-61

``plan_kg`` is the only code that makes that plan; every documents ->
triples caller runs it: the resumable ``run_pipeline``
(plans/lineage.py), ``__spark_entry__.entry``, the streaming sink and
``canonicalize``, which maps its mentions to canonical ids (LSH edges ->
connected components) and rewrites its triples' subjects.  Every step is
declarative DataFrame API; the only Python is the one Arrow-batched
fused pass (operators/fused.py) that encodes each span and searches the
broadcast ``_IvfIndex`` (f64-exact over the probed cells, so exact
when nprobe >= nlist).  ONE shuffle (the placement before encode); the
broadcast index adds none.  Its three splits all carry part_id, the key
run_pipeline writes them under.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import NPROBE, PipelineConfig
from ..functions.encoder import make_encode_udf
from ..operators.fused import encode_and_link
from ..operators.lsh import _CacheHandle


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


def triples_from_links(links: DataFrame, *keep: str) -> DataFrame:
    """(subj, pred, obj, score, span_idx, rank) per SURVEY.md §2.3:
    subj=doc_id, pred = mentions|depicts by span kind, obj = linked
    entity; then the ``keep`` columns of ``links``."""
    return links.select(
        F.col("doc_id").alias("subj"),
        F.when(F.col("kind") == "text", F.lit("mentions"))
        .otherwise(F.lit("depicts"))
        .alias("pred"),
        F.col("entity_id").alias("obj"),
        F.col("score"),
        F.col("span_idx"),
        F.col("rank"),
        *keep,
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
    IVF probe structure only cuts the quadratic space by ~nlist/nprobe.
    The bands are sized by ``lsh_params_for_tau(tau_cc)`` (0.99 recall
    at tau_cc)."""
    from ..operators.lsh import hyperplane_lsh_pairs

    mid = F.concat_ws("#", "doc_id", "span_idx")
    nodes = mentions.select(mid.alias("mention_id"), "embedding")
    return hyperplane_lsh_pairs(
        nodes, "embedding", "mention_id",
        tau=cfg.tau_cc, dim=cfg.dim, seed=cfg.seed,
    ).select("src", "dst")


class KgPlan(NamedTuple):
    """``plan_kg``'s fused pass and its three splits.  Each split is a
    projection of ``rows``, so persisting ``rows`` caches all three."""

    rows: DataFrame

    @property
    def mentions(self) -> DataFrame:
        """(doc_id, span_idx, kind, embedding, part_id); needs a plan
        built with ``embeddings=True``."""
        return self.rows.filter(F.col("embedding").isNotNull()).select(
            "doc_id", "span_idx", "kind", "embedding", "part_id")

    @property
    def triples(self) -> DataFrame:
        """triples_from_links columns, then part_id."""
        return triples_from_links(
            self.rows.filter(F.col("entity_id").isNotNull()), "part_id")

    @property
    def skips(self) -> DataFrame:
        """(doc_id, span_idx, kind, media_ref, reason, part_id)."""
        return self.rows.filter(F.col("skip_reason").isNotNull()).select(
            "doc_id", "span_idx", "kind", "media_ref",
            F.col("skip_reason").alias("reason"), "part_id")


def plan_kg(
    documents: DataFrame,
    entities_pdf,
    centroids,
    cfg: PipelineConfig = PipelineConfig(),
    nprobe: int = NPROBE,
    n_parts: int | None = None,
    todo: list[int] | None = None,
    embeddings: bool = False,
) -> KgPlan:
    """documents -> the one fused encode+search pass, as a ``KgPlan``.

    Each span gets ``part_id = pmod(xxhash64(doc_id), n_parts)``
    (``n_parts`` defaults to ``cfg.embed_partitions``; below 1 raises
    ValueError); only the ids in ``todo`` (default: all) are planned.
    The spans are placed by their id's slot in ``todo``
    (repartitionById), so each task holds whole partitions and a
    partitioned write leaves one file per partition directory.  Direct
    placement, because hash partitioning a few small ints collides and
    leaves tasks empty, and range partitioning samples its input in an
    extra scan.  Linking is exact (f64, ties by entity_id) when nprobe >=
    len(centroids), IVF with the reference's nprobe knob
    (query-index.py:30) below that.  ``embeddings=True`` keeps the
    vectors, for ``mentions``."""
    n_parts = cfg.embed_partitions if n_parts is None else n_parts
    if n_parts < 1:
        raise ValueError(f"n_parts must be >= 1, got {n_parts}")
    todo = list(range(n_parts)) if todo is None else list(todo)
    spans = explode_spans(documents).withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))
    if len(todo) < n_parts:
        spans = spans.filter(F.col("part_id").isin(todo))
        slot = F.array_position(
            F.array(*map(F.lit, todo)), F.col("part_id")) - 1
    else:
        slot = F.col("part_id")
    spans = with_content(spans).select(
        "doc_id", "span_idx", "kind", "content", "media_ref", "part_id"
    ).repartitionById(
        min(cfg.embed_partitions, len(todo)), slot.cast("int"))
    return KgPlan(encode_and_link(
        spans, entities_pdf, centroids, cfg, nprobe, embeddings=embeddings,
    ))


class Canonical(NamedTuple):
    """``canonicalize``'s frames; ``cache.unpersist()`` releases the
    fused pass it persisted."""

    edges: DataFrame
    canonical: DataFrame
    canonical_triples: DataFrame
    cache: _CacheHandle


def canonicalize(plan: KgPlan, cfg: PipelineConfig = PipelineConfig()
                 ) -> Canonical:
    """Canonical mention ids over a ``plan_kg(..., embeddings=True)``
    plan (north_star stage 5): LSH-banded near-dup edges between its
    mentions -> connected components -> canonical_id per mention_id
    (doc_id#span_idx), and its triples with subj = canonical id.

    Persists ``plan.rows``, since the mentions feed the edges and the
    mapping and the triples feed the rewrite: recomputing the encode per
    consumer would multiply the dominant cost.  The caller releases it
    through ``cache``."""
    from ..operators.ccomp import canonical_mapping, connected_components

    rows = plan.rows.persist()
    edges = mention_edges(plan.mentions, cfg)
    mention_id = F.concat_ws("#", "doc_id", "span_idx").alias("node")
    canonical = canonical_mapping(
        connected_components(edges), plan.mentions.select(mention_id)
    ).select(F.col("node").alias("mention_id"), "canonical_id")
    canonical_triples = (
        plan.triples.withColumn(
            "mention_id", F.concat_ws("#", "subj", "span_idx"))
        .join(canonical, "mention_id")
        .select(F.col("canonical_id").alias("subj"),
                "pred", "obj", "score", "span_idx", "rank")
    )
    return Canonical(edges, canonical, canonical_triples, _CacheHandle(rows))
