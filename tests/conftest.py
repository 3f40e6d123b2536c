from __future__ import annotations

import pytest

from cli_p_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="cli_p_spark-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_small():
    from cli_p_spark.fixtures.generate import corpus

    return corpus(n_docs=200, n_entities=100)


@pytest.fixture(scope="session")
def exact_triples():
    """plan_kg's (triples, skips) at nprobe = nlist: the exact (f64)
    linker."""
    import numpy as np

    from cli_p_spark.config import PipelineConfig
    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.plans.pipeline import plan_kg

    def run(docs, ents_pdf, cfg=PipelineConfig()):
        centroids = train_centroids(
            np.stack(ents_pdf["embedding"].to_numpy()), nlist=16,
            seed=cfg.seed)
        plan = plan_kg(docs, ents_pdf, centroids, cfg, nprobe=len(centroids))
        return plan.triples, plan.skips

    return run
