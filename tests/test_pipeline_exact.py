"""M1 gate: exact pipeline == NumPy oracle (P/R = 1.0) + span invariant."""

import pandas as pd

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import documents_to_spark
from cli_p_spark.oracle.exact import golden_triples, precision_recall
from cli_p_spark.plans.pipeline import explode_spans, reassemble_spans


def test_exact_pipeline_matches_oracle(spark, corpus_small, exact_triples):
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    docs = documents_to_spark(spark, docs_pdf)
    triples, skips = exact_triples(docs, ents_pdf, cfg)
    got = triples.toPandas()
    golden = golden_triples(docs_pdf, ents_pdf, tau=cfg.tau, k=cfg.k)
    p, r = precision_recall(got, golden)
    assert p == 1.0 and r == 1.0, (p, r, len(got), len(golden))
    # scores agree too (same float64 GEMM math)
    merged = got.merge(
        golden, on=["subj", "span_idx", "pred", "obj"], suffixes=("_s", "_o")
    )
    assert (merged["score_s"] - merged["score_o"]).abs().max() < 1e-9


def test_corrupt_media_quarantined_not_fatal(
        spark, corpus_small, exact_triples):
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    triples, skips = exact_triples(docs, ents_pdf)
    sk = skips.toPandas()
    assert set(sk["doc_id"]) == {"docEDGE_CORRUPT"}
    assert sk["reason"].eq("decode_error").all()
    # the doc's OTHER span still produced a triple (run continues)
    got = triples.toPandas()
    assert (got["subj"] == "docEDGE_CORRUPT").any()


def test_span_sequence_invariant(spark, corpus_small):
    """input_hint invariant: explode -> reassemble == identity on
    (kind, text, media_ref, order)."""
    docs_pdf, _ = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    rebuilt = reassemble_spans(explode_spans(docs))
    a = docs.filter("size(spans) > 0").orderBy("doc_id").toPandas()
    b = rebuilt.orderBy("doc_id").toPandas()
    assert list(a["doc_id"]) == list(b["doc_id"])
    for sa, sb in zip(a["spans"], b["spans"]):
        assert [tuple(x) for x in sa] == [tuple(x) for x in sb]


def test_idempotent_reingest(spark, corpus_small, exact_triples):
    """Re-ingesting the same docs then dropping duplicates yields identical
    triples (reference resumability, build-index.py:42-44)."""
    docs_pdf, ents_pdf = corpus_small
    doubled = pd.concat([docs_pdf, docs_pdf], ignore_index=True)
    docs2 = documents_to_spark(spark, doubled).dropDuplicates(["doc_id"])
    docs1 = documents_to_spark(spark, docs_pdf)
    t1, _ = exact_triples(docs1, ents_pdf)
    t2, _ = exact_triples(docs2, ents_pdf)
    key = ["subj", "span_idx", "pred", "obj"]
    assert sorted(map(tuple, t1.select(*key).collect())) == sorted(
        map(tuple, t2.select(*key).collect())
    )
