"""Text-analysis functions + multimodal plumbing."""

import numpy as np

from pyspark.sql import functions as F

from cli_p_spark.functions.text import (
    content_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from cli_p_spark.multimodal.media import (
    decode_media,
    frame_sample_plan,
    make_media_df,
)


def test_lang_id_markers(spark):
    rows = [
        ("e1", "the cat and the dog of a house"),
        ("d1", "der hund und die katze das ist"),
        ("f1", "le chat et la maison les arbres des"),
        ("s1", "el gato y los perros que una casa"),
        ("u1", "zzz qqq www"),
        ("u2", ""),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {
        r["id"]: r["lang"]
        for r in df.select("id", lang_id("text").alias("lang")).collect()
    }
    assert got == {"e1": "en", "d1": "de", "f1": "fr", "s1": "es",
                   "u1": "und", "u2": "und"}


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [("a", "the quick brown fox jumps"), ("b", "!!! ??? ...")],
        "id string, text string",
    )
    out = {
        r["id"]: (r["q"], r["n"])
        for r in df.select(
            "id",
            quality_score("text").alias("q"),
            token_count("text").alias("n"),
        ).collect()
    }
    assert out["a"][1] == 5
    assert out["a"][0] > 0.9        # clean English text
    assert out["b"][0] < 0.4        # punctuation soup


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("a", "Hello   World"), ("b", "  hello world "), ("c", "other")],
        "id string, text string",
    )
    fps = {
        r["id"]: r["fp"]
        for r in df.select(
            "id", content_fingerprint("text").alias("fp")
        ).collect()
    }
    assert fps["a"] == fps["b"]
    assert fps["a"] != fps["c"]


def test_winnow_fingerprint_overlap(spark):
    from cli_p_spark.operators.dedup import winnow_fingerprints

    base = " ".join(f"tok{i}" for i in range(60))
    edited = base.replace("tok30", "tokXX")
    other = " ".join(f"zzz{i}" for i in range(60))
    df = spark.createDataFrame(
        [("a", base), ("b", edited), ("c", other)], "id string, text string"
    )

    def fps():
        out = {}
        for r in winnow_fingerprints(df, "text", "id").collect():
            out.setdefault(r["_id"], set()).add(r["_fp"])
        return out

    out = fps()
    sim_ab = len(out["a"] & out["b"]) / len(out["a"] | out["b"])
    sim_ac = len(out["a"] & out["c"]) / len(out["a"] | out["c"])
    assert sim_ab > 0.5
    assert sim_ac == 0.0
    assert out == fps()  # deterministic across runs


def test_media_decode_and_quarantine(spark):
    media = make_media_df(spark, n_media=30)
    dec = decode_media(media).cache()
    rows = {r["media_id"]: r for r in dec.collect()}
    assert len(rows) == 30
    bad = [m for m, r in rows.items() if r["skip_reason"] is not None]
    assert bad == ["media00007"]  # the baked-in corrupt blob, run continues
    meta = {
        r["media_id"]: (r["meta"]["width"], r["meta"]["height"],
                        r["meta"]["n_frames"])
        for r in media.collect()
    }
    for mid, r in rows.items():
        if r["skip_reason"] is None:
            assert (r["width"], r["height"], r["n_frames"]) == meta[mid]


def test_frames_flow_into_linker(spark):
    """Cohesion: sampled video frames feed the SAME fused encode+link
    operator the text/image spans use (one shared vector space —
    reference README.md:8-10)."""
    import numpy as np

    from pyspark.sql import functions as F

    from cli_p_spark.config import PipelineConfig
    from cli_p_spark.fixtures.generate import make_entities
    from cli_p_spark.operators.ann import train_centroids
    from cli_p_spark.operators.fused import encode_and_link

    media = make_media_df(spark, n_media=20)
    frames = frame_sample_plan(decode_media(media), every_n=48)
    spans = frames.select(
        F.col("media_id").alias("doc_id"),
        F.col("frame_idx").alias("span_idx"),
        F.lit("image").alias("kind"),
        F.concat(
            F.lit("img://"), "media_id", F.lit("/frame/"),
            F.col("frame_idx").cast("string"),
        ).alias("content"),
    )
    ents = make_entities(50)
    emat = np.stack(ents["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=10)
    out = encode_and_link(
        spans, ents, centroids, PipelineConfig(tau=-1.0), nprobe=10
    )
    links = out.filter(F.col("entity_id").isNotNull())
    assert links.count() == frames.count()  # rank-1 link per frame
    assert links.filter(F.col("rank") != 1).count() == 0


def test_frame_sample_plan(spark):
    media = make_media_df(spark, n_media=30)
    dec = decode_media(media)
    frames = frame_sample_plan(dec, every_n=24).collect()
    vids = {
        r["media_id"]: r["n_frames"]
        for r in dec.collect()
        if r["kind"] == "video" and r["skip_reason"] is None
    }
    by_vid = {}
    for r in frames:
        by_vid.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert set(by_vid) == set(vids)
    for mid, idxs in by_vid.items():
        assert idxs == list(range(0, vids[mid], 24))
