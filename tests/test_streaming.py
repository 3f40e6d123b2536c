"""Structured Streaming: incremental KG ingest equals the batch result;
watermarked windows handle late data; streaming dedup drops repeats."""

import numpy as np

from pyspark.sql import functions as F

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import documents_to_spark
from cli_p_spark.operators.ann import train_centroids
from cli_p_spark.plans.pipeline import plan_kg
from cli_p_spark.streaming.ingest import (
    incremental_triples,
    stream_documents,
    stream_dedup,
    windowed_event_counts,
)


def test_incremental_equals_batch(spark, corpus_small, tmp_path):
    """Stream the corpus as two file drops; the accumulated triples must
    equal one batch run over the whole corpus."""
    docs_pdf, ents_pdf = corpus_small
    cfg = PipelineConfig()
    emat = np.stack(ents_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=100, seed=cfg.seed)

    in_dir = str(tmp_path / "in")
    half = len(docs_pdf) // 2
    documents_to_spark(spark, docs_pdf.iloc[:half]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    documents_to_spark(spark, docs_pdf.iloc[half:]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = incremental_triples(
        stream_documents(spark, in_dir),
        ents_pdf,
        centroids,
        out_dir,
        str(tmp_path / "ckpt"),
        cfg,
    )
    q.awaitTermination(120)

    streamed = sorted(
        map(
            tuple,
            spark.read.parquet(f"{out_dir}/triples")
            .select("subj", "span_idx", "pred", "obj")
            .collect(),
        )
    )
    batch_t = plan_kg(
        documents_to_spark(spark, docs_pdf), ents_pdf, centroids, cfg
    ).triples
    batch = sorted(
        map(tuple, batch_t.select("subj", "span_idx", "pred", "obj").collect())
    )
    assert streamed == batch


def test_windowed_counts_with_watermark(spark, tmp_path):
    # two checkpointed availableNow runs: run 1 advances the watermark to
    # 00:20 and closes the 00:00/00:01 windows; run 2 delivers a row at
    # 00:00:30 — beyond the (checkpoint-restored) watermark -> dropped
    in_dir = str(tmp_path / "ev")
    out_dir = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")

    def drop_file(rows):
        spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop(
            "ts_s"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    def run_once():
        stream = spark.readStream.schema(
            "event_id long, event_type string, ts timestamp"
        ).parquet(in_dir)
        q = (
            windowed_event_counts(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drop_file([
        (1, "2024-01-01 00:00:10", "click"),
        (2, "2024-01-01 00:00:50", "click"),
        (3, "2024-01-01 00:01:10", "view"),
        (4, "2024-01-01 00:30:00", "click"),  # advances the watermark
    ])
    run_once()
    drop_file([(5, "2024-01-01 00:00:30", "click")])  # late -> dropped
    run_once()

    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got.get(("2024-01-01 00:00:00", "click")) == 2  # late row absent
    assert got.get(("2024-01-01 00:01:00", "view")) == 1
    # the 00:30 window never closes (no later event) -> withheld by append
    assert ("2024-01-01 00:30:00", "click") not in got


def test_stream_dedup_drops_repeats(spark, corpus_small, tmp_path):
    docs_pdf, _ = corpus_small
    sub = docs_pdf.iloc[:20]
    df = documents_to_spark(spark, sub).withColumn(
        "ingest_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    in_dir = str(tmp_path / "dup")
    df.coalesce(1).write.mode("append").parquet(in_dir)
    df.coalesce(1).write.mode("append").parquet(in_dir)  # exact re-ingest

    stream = (
        spark.readStream.schema(
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, ingest_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select content_hash from dedup_out").collect()
    hashes = [r["content_hash"] for r in out]
    assert len(hashes) == len(set(hashes))  # no duplicate content emitted
    assert len(set(hashes)) == sub["spans"].astype(str).nunique()


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static broadcast join: streamed enrichment equals the batch
    join over the same files."""
    from cli_p_spark.streaming.ingest import enrich_stream

    rows = [(i, f"u{i % 5}", float(i)) for i in range(100)]
    schema = "event_id long, user_id string, value double"
    df = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "ev")
    df.coalesce(2).write.parquet(in_dir)
    dim = spark.createDataFrame(
        [(f"u{j}", f"tier{j % 2}") for j in range(5)],
        "user_id string, tier string",
    )
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        enrich_stream(stream, dim, "user_id")
        .writeStream.format("memory").queryName("enriched")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = sorted(map(tuple, spark.sql(
        "SELECT event_id, user_id, tier FROM enriched").collect()))
    want = sorted(map(tuple, df.join(
        dim, "user_id").select("event_id", "user_id", "tier").collect()))
    assert got == want


def test_incremental_dedup_stream_equals_batch(spark, tmp_path):
    """Stream the near-dup corpus as three file drops maintaining the
    signature/band index; accumulated pairs (as unordered sets) must
    equal one batch LSH run over the whole corpus."""
    import random

    from pyspark.sql import functions as F

    from cli_p_spark.operators.dedup import minhash_lsh_pairs
    from cli_p_spark.streaming.ingest import incremental_dedup_stream

    rnd = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(300)]
    rows = []
    for i in range(45):
        base = rnd.sample(vocab, 25)
        mut = list(base)
        mut[rnd.randrange(25)] = rnd.choice(vocab)
        rows.append((f"s{i:03d}a", " ".join(base)))
        rows.append((f"s{i:03d}b", " ".join(mut)))

    in_dir = str(tmp_path / "in")
    for k in range(3):
        chunk = rows[k * 30: (k + 1) * 30]
        spark.createDataFrame(
            chunk, "doc_id string, text string"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    index_dir = str(tmp_path / "index")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = incremental_dedup_stream(
        stream, index_dir, str(tmp_path / "ckpt"),
        jaccard_threshold=0.5, max_bucket=1 << 30,
    )
    q.awaitTermination(180)

    got = {
        frozenset((r["src"], r["dst"]))
        for r in spark.read.parquet(f"{index_dir}/pairs").collect()
    }
    full = minhash_lsh_pairs(
        spark.createDataFrame(rows, "doc_id string, text string"),
        "text", "doc_id", jaccard_threshold=0.5, max_bucket=1 << 30,
    )
    want = {
        frozenset((r["src"], r["dst"])) for r in full.collect()
    }
    full.signature_cache.unpersist()
    assert got == want and len(want) >= 30
    # index holds every doc exactly once
    n_sigs = spark.read.parquet(f"{index_dir}/sigs").count()
    assert n_sigs == len(rows)


def test_incremental_funnel_stream_equals_batch(spark, tmp_path):
    """Stream time-ordered event drops through the versioned funnel
    state; counts from the final state must equal the batch funnel over
    the union of all drops."""
    import datetime as dt

    from cli_p_spark.operators.funnel import (
        funnel_counts,
        state_to_counts,
    )
    from cli_p_spark.streaming.funnel import (
        _latest_state,
        incremental_funnel_stream,
    )

    base = dt.datetime(2024, 1, 1)
    steps = ["view", "click", "purchase"]
    rows = []
    import random

    rnd = random.Random(13)
    for i in range(240):
        rows.append(
            (
                rnd.randrange(20),
                base + dt.timedelta(seconds=i * 30),
                rnd.choice(steps + ["noise"]),
            )
        )
    # three TIME-ORDERED drops (the incremental fold's precondition)
    in_dir = str(tmp_path / "in")
    for k in range(3):
        chunk = rows[k * 80: (k + 1) * 80]
        spark.createDataFrame(
            chunk, "user_id bigint, ts timestamp_ntz, event_type string"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp_ntz, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    state_dir = str(tmp_path / "state")
    q = incremental_funnel_stream(
        stream, state_dir, str(tmp_path / "ckpt"), steps,
        window_us=3600 * 1_000_000,
    )
    q.awaitTermination(180)

    final = _latest_state(spark, state_dir, 1 << 30)
    assert final is not None
    got = {
        r["step_idx"]: r["n_users"]
        for r in state_to_counts(final, steps).collect()
    }
    ev = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp_ntz, event_type string"
    )
    want = {
        r["step_idx"]: r["n_users"]
        for r in funnel_counts(
            ev, steps, window_us=3600 * 1_000_000
        ).collect()
    }
    assert got == want and want[0] > 0


def test_streaming_cms_heavy_hitters_equals_batch(spark, tmp_path):
    """Three file drops of a skewed token stream: the merged streamed
    sketch must equal one batch CMS over the whole stream counter-for-
    counter, and the CMS top-k must be the exact heavy set."""
    import random

    from cli_p_spark.operators.sketch import cms_positions
    from cli_p_spark.streaming.heavyhitters import (
        cms_state_counters,
        incremental_cms_stream,
        streaming_heavy_hitters,
    )

    rnd = random.Random(11)
    heavy = ["alpha", "beta", "gamma"]
    tokens = [heavy[i % 3] for i in range(1500)]
    tokens += [f"t{rnd.randrange(400):03d}" for _ in range(1500)]
    rnd.shuffle(tokens)

    in_dir = str(tmp_path / "in")
    for k in range(3):
        chunk = [(t,) for t in tokens[k * 1000: (k + 1) * 1000]]
        spark.createDataFrame(chunk, "token string").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = incremental_cms_stream(
        stream, state, str(tmp_path / "ckpt"),
        depth=4, width=512, cand_per_batch=64,
    )
    q.awaitTermination(180)

    merged = sorted(
        (r["_j"], r["_pos"], r["_c"])
        for r in cms_state_counters(spark, state).collect()
    )
    all_df = spark.createDataFrame([(t,) for t in tokens], "token string")
    batch = sorted(
        (r["_j"], r["_pos"], r["_c"])
        for r in cms_positions(
            all_df.select(F.col("token").alias("_k")), "_k", 4, 512
        )
        .groupBy("_j", "_pos")
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    )
    assert merged == batch

    hh = streaming_heavy_hitters(spark, state, k=3, depth=4, width=512)
    rows = hh.collect()
    assert {r["key"] for r in rows} == set(heavy)
    for r in rows:
        assert r["cms_count"] >= 500  # CMS never undercounts


def test_streaming_cms_replay_idempotent(spark, tmp_path):
    """At-least-once contract: re-running a batch body with the same
    batch_id must leave the accumulated state byte-identical (dynamic
    partition overwrite, not append)."""
    from cli_p_spark.streaming.heavyhitters import (
        _cms_batch_writer,
        cms_state_counters,
        streaming_heavy_hitters,
    )

    state = str(tmp_path / "state")
    fn = _cms_batch_writer(state, "token", 4, 256, 16)
    b0 = spark.createDataFrame(
        [("x",)] * 5 + [("y",)] * 2, "token string"
    )
    b1 = spark.createDataFrame(
        [("x",)] * 3 + [("z",)] * 4, "token string"
    )
    fn(b0, 0)
    fn(b1, 1)

    def snapshot():
        ctr = sorted(
            (r["_j"], r["_pos"], r["_c"])
            for r in cms_state_counters(spark, state).collect()
        )
        hh = sorted(
            (r["key"], r["cms_count"])
            for r in streaming_heavy_hitters(
                spark, state, k=3, depth=4, width=256
            ).collect()
        )
        return ctr, hh

    want = snapshot()
    fn(b1, 1)  # replayed batch
    assert snapshot() == want
    _, hh = want
    assert hh == [("x", 8), ("y", 2), ("z", 4)]
