"""Dump formatted physical plans for the headline queries + the KG
pipeline into PLANS.md — the `.explain` discipline as a reviewable
artifact (pushdown, broadcast selection, exchange count).

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import numpy as np

    from cli_p_spark.config import PipelineConfig
    from cli_p_spark.fixtures.generate import corpus, documents_to_spark
    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.plans.contract import QUERIES
    from cli_p_spark.plans.pipeline import plan_kg
    from cli_p_spark.session import get_spark

    spark = get_spark(app="explain", master="local[4]", shuffle_partitions=8)
    picks = [
        "q1_pricing_summary",
        "q3_top_unshipped_revenue",
        "filter_project_pushdown",
        "join_broadcast_dims",
        "window_topk_orders_per_cust",
        "knn_bruteforce_cosine",
        "range_join_ship_lag",
        "minhash_dedup_pairs",
        "embedding_neardup_cosine",
        "doc_repetition_stats",
        "corpus_pack_sequences",
        "events_asof_join",
        "cms_heavy_tokens",
        "bloom_prune_orders",
        "zorder_skipping_stats",
        "dq_expectations",
        "doc_incremental_neardup",
        "part_name_fuzzy_pairs",
        "doc_setsim_pairs",
        "doc_semantic_dedup",
        "events_funnel",
        "events_retention",
        "docs_weighted_sample",
        "knn_rrf_fusion",
        "doc_pmi_collocations",
        # round-6 entries (r5 verdict items 5-7)
        "kg_ann_recall",
        "kg_pagerank_tol",
        "knn_incremental_index",
        # round-6 session-5 entries
        "kg_clustering",
        "kg_transitive_closure",
        "kg_random_walks",
        "er_sorted_neighborhood",
        "kg_resource_allocation",
        "kg_rectangles",
    ]
    out = ["# PLANS — formatted physical plans (generated artifact)\n",
           "Regenerate: `python tools/explain_plans.py`\n"]

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    for name in picks:
        out.append(f"\n## {name}\n\n```\n{fmt(QUERIES[name](spark, sf_dir))}\n```\n")

    # the graph CONTRACT entries stage (materialize) their results so the
    # operator caches can be unpersisted — their entry plans are bare
    # parquet scans.  Explain the OPERATOR plans over the shared staged
    # edges instead (what actually executes during staging).
    from pyspark.sql import functions as F

    from cli_p_spark.operators.graph import (
        khop_reachability,
        label_propagation,
        pagerank_fixed_point,
        triangle_count,
    )
    from cli_p_spark.plans.contract import _kg_edges

    edges = _kg_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node")).distinct()
        .orderBy("node").limit(3)
    )
    from cli_p_spark.operators.graph import (
        closeness_centrality,
        jaccard_link_prediction,
    )

    seeds4 = (
        edges.select(F.col("src").alias("node")).distinct()
        .orderBy("node").limit(4)
    )
    from cli_p_spark.operators.graph import (
        clustering_coefficients,
        random_walks,
        transitive_closure,
        walk_edge_keys,
    )

    graph_ops = [
        ("kg_pagerank (operator plan)", pagerank_fixed_point(edges)),
        ("kg_khop_reach (operator plan)",
         khop_reachability(edges, seeds, k=3)),
        ("kg_triangles (operator plan)", triangle_count(edges)),
        ("kg_communities (operator plan)",
         label_propagation(edges, iterations=4)),
        ("kg_closeness (operator plan)",
         closeness_centrality(edges, seeds4, max_hops=6)),
        ("kg_link_prediction (operator plan)",
         jaccard_link_prediction(edges, min_common=2)),
        ("kg_clustering (operator plan)",
         clustering_coefficients(edges)),
        ("kg_transitive_closure (operator plan)",
         transitive_closure(edges, max_depth=6)),
        ("kg_random_walks (operator plan)",
         random_walks(walk_edge_keys(edges, length=5), seeds, length=5)),
    ]
    for name, df in graph_ops:
        out.append(f"\n## {name}\n\n```\n{fmt(df)}\n```\n")
        for attr in ("pagerank_cache", "khop_cache", "triangle_cache",
                     "lpa_cache", "closeness_cache", "linkpred_cache",
                     "clustering_cache", "closure_cache", "walks_cache"):
            c = getattr(df, attr, None)
            if c is not None:
                c.unpersist()

    docs_pdf, ents_pdf = corpus(n_docs=50, n_entities=100)
    docs = documents_to_spark(spark, docs_pdf)
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=20)
    triples = plan_kg(docs, ents_pdf, centroids, PipelineConfig()).triples
    plan = triples._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    out.append(
        "\n## kg_fused_pipeline (documents -> triples)\n\n"
        "One Exchange total — the placement by part_id before the\n"
        "embed pass; the broadcast-index search adds none.\n\n"
        f"```\n{plan}\n```\n"
    )
    from cli_p_spark.fixtures.distributed import distributed_mentions
    from cli_p_spark.operators.lsh import (
        hyperplane_lsh_pairs,
        lsh_params_for_tau,
    )

    mentions = distributed_mentions(spark, 2000, hub_copies=200)
    bits, bands = lsh_params_for_tau(0.95)
    pairs = hyperplane_lsh_pairs(
        mentions, "embedding", "mention_id", tau=0.95, dim=64,
        bits_per_band=bits, bands=bands, group_col="grp",
    )
    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pairs.signature_cache.unpersist()
    out.append(
        "\n## sharded_canonicalization_pairs (mentions -> LSH edges)\n\n"
        "Banded signatures computed ONCE (InMemoryTableScan feeds all\n"
        "four consumers); the bucket self-join and verify joins carry\n"
        "ids only; grouping column shards the join key.\n\n"
        f"```\n{plan}\n```\n"
    )
    with open(os.path.join(_ROOT, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
