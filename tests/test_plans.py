"""Physical-plan hygiene: the plans we claim are the plans Catalyst picks.

Scale correctness is a plan property: filters must reach the parquet scan,
small dims must broadcast, and the fused KG path must contain exactly one
exchange (the placement by part_id before the embed pass)."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    from cli_p_spark.plans.contract import filter_project_pushdown

    df = filter_project_pushdown(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan or "l_quantity" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]
    # column pruning: ReadSchema carries only the needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_dim_joins_are_broadcast(spark):
    from cli_p_spark.plans.contract import join_broadcast_dims

    plan = _plan(join_broadcast_dims(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_fused_pipeline_single_exchange(spark, corpus_small):
    import numpy as np

    from cli_p_spark.config import PipelineConfig
    from cli_p_spark.fixtures.generate import documents_to_spark
    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.plans.pipeline import plan_kg

    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=100)
    triples = plan_kg(docs, ents_pdf, centroids, PipelineConfig()).triples
    plan = _plan(triples)
    # exactly one Exchange: the placement by part_id before encode;
    # linking against the broadcast index adds none
    assert plan.count("Exchange") == 1, plan
    assert "shufflepartitionidpassthrough(direct_shuffle_partition_id(" \
        "part_id" in plan, plan


def test_q1_whole_stage_codegen(spark):
    from cli_p_spark.plans.contract import q1_pricing_summary

    df = q1_pricing_summary(spark, "/root/testdata/sf0.001")
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # "*(n)" prefixes mark WholeStageCodegen spans in the plan string
    assert "*(1)" in plan
    # partial+final aggregation (map-side combine) is in place
    assert "partial_sum" in plan


def test_plan_kg_n_parts_below_one_raises(spark, corpus_small):
    """n_parts=0 plans no partition: it raises, as run_pipeline does,
    instead of standing for cfg.embed_partitions."""
    import numpy as np
    import pytest

    from cli_p_spark.fixtures.generate import documents_to_spark
    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.plans.pipeline import plan_kg

    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), nlist=16)
    for n_parts in (0, -1):
        with pytest.raises(ValueError, match="n_parts"):
            plan_kg(docs, ents_pdf, centroids, n_parts=n_parts)
