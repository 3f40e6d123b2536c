"""The benchmark's workloads: inputs, the timed call, the output
checks, and the traced pass that records a span around each layer call.

Every workload calls the engine only through its public functions.  Inputs
are generated from the seed and written to parquet before any timing; the
timed call reads only that parquet.  Each call writes a fresh directory.
"""

from __future__ import annotations

import os
import pickle
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from .checks import check_canon, check_links, digest, oracle_components
from .measure import MB, Tracer, median, spans_around


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / MB


@dataclass
class Call:
    """One timed call: its wall, and the wall of the entry point alone
    (without the count that confirms the commit)."""

    out_dir: str
    wall_s: float
    entry_s: float


class Workload:
    name = ""
    unit = ""  # what one input row is
    rows = 0

    def __init__(self, work: str, seed: int, sizes: dict):
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.inputs = os.path.join(work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.work, "out", tag)

    def make_inputs(self, spark) -> dict:
        raise NotImplementedError

    def call(self, spark, i) -> Call:
        raise NotImplementedError

    def digest(self, spark, call: Call) -> str:
        raise NotImplementedError

    def check(self, spark, call: Call) -> dict:
        """precision, recall, accuracy and ok for one call's output."""
        raise NotImplementedError

    def call_layers(self, spark, call: Call) -> dict:
        """Per-layer numbers read from the untraced call's own output."""
        return {}

    def traced(self, spark, tracer: Tracer) -> Call:
        raise NotImplementedError

    def extras(self, spark, traced: Call) -> dict:
        """Per-layer numbers measured after the traced pass, outside the
        span whose total the layer self-times must reconcile with."""
        return {}


# --------------------------------------------------------------------------
# kg: run_pipeline over documents against an entity index


class KgIngest(Workload):
    """``run_pipeline`` into a fresh directory, as ``run_kg`` runs it."""

    name = "kg_ingest"
    unit = "documents"

    def make_inputs(self, spark) -> dict:
        from cli_p_spark.fixtures.distributed import distributed_documents
        from cli_p_spark.fixtures.generate import make_entities

        s = self.sizes
        self.rows = s["docs"]
        # the entity index is tied to the encoder's seed (its embeddings are
        # encoder outputs), so only the documents vary with --seed
        ents = make_entities(s["entities"])
        self.ents_path = os.path.join(self.inputs, "entities")
        self.docs_path = os.path.join(self.inputs, "documents")
        ents.to_parquet(self.ents_path)
        distributed_documents(spark, s["docs"], ents, seed=self.seed) \
            .write.parquet(self.docs_path)
        self.ents = pd.read_parquet(self.ents_path)
        return {"documents": s["docs"], "entities": s["entities"],
                "n_parts": s["parts"], "nlist": s["nlist"],
                "nprobe": s["nprobe"], "k": 1}

    def _config(self):
        from cli_p_spark.config import TAU, PipelineConfig

        return PipelineConfig(tau=TAU, embed_partitions=self.sizes["parts"])

    def call(self, spark, i) -> Call:
        from cli_p_spark.plans.lineage import run_pipeline

        s, out = self.sizes, self.out_dir(f"call{i}")
        t0 = time.perf_counter()
        run_pipeline(
            spark, spark.read.parquet(self.docs_path), self.ents, out,
            self._config(), run_id=f"call{i}", n_parts=s["parts"],
            nlist=s["nlist"], nprobe=s["nprobe"],
        )
        t1 = time.perf_counter()
        spark.read.parquet(os.path.join(out, "triples")).count()
        return Call(out, time.perf_counter() - t0, t1 - t0)

    def digest(self, spark, call: Call) -> str:
        df = spark.read.parquet(os.path.join(call.out_dir, "triples"))
        return digest(df, ["subj", "pred", "obj", "score", "span_idx", "rank"],
                      score_col="score")

    def check(self, spark, call: Call) -> dict:
        from pyspark.sql import functions as F

        from cli_p_spark.config import TAU

        cfg = self._config()
        rng = np.random.default_rng(self.seed)
        picks = rng.choice(self.rows, min(self.sizes["check_docs"], self.rows),
                           replace=False)
        ids = [f"doc{int(d):08d}" for d in picks]
        docs = spark.read.parquet(self.docs_path) \
            .filter(F.col("doc_id").isin(ids)).toPandas()
        got = spark.read.parquet(os.path.join(call.out_dir, "triples")) \
            .filter(F.col("subj").isin(ids)).toPandas()
        r = check_links(got, docs, self.ents, tau=TAU, dim=cfg.dim,
                        seed=cfg.seed, min_pr=self.sizes["min_pr"])
        r["ok"] = r["ok"] and len(docs) == len(ids)
        return r

    def call_layers(self, spark, call: Call) -> dict:
        from pyspark.sql import functions as F

        run_id = os.path.basename(call.out_dir)
        rows = spark.read.parquet(os.path.join(call.out_dir, "lineage")) \
            .filter(F.col("run_id") == run_id) \
            .select("stage", "wall_s").collect()
        embed = [r["wall_s"] for r in rows if r["stage"] == "embed"]
        link = sum(r["wall_s"] for r in rows if r["stage"] == "link")
        # each embed row holds wall / len(todo), so the rows sum to the wall
        return {
            "lineage.embed_stage_s": sum(embed),
            "lineage.link_stage_s": link,
            "lineage.bookkeeping_s": call.entry_s - sum(embed) - link,
            "lineage.parts_skipped": self.sizes["parts"] - len(embed),
        }

    def traced(self, spark, tracer: Tracer) -> Call:
        """The same call as the timed ones, with a span around
        ``run_pipeline`` and around each layer function it calls."""
        from cli_p_spark.operators import ann
        from cli_p_spark.plans import lineage
        from cli_p_spark.plans.tables import TableStore

        targets = [
            (lineage, "run_pipeline", "plans.lineage"),
            (lineage, "read_lineage", "plans.lineage"),
            (lineage, "_append_lineage", "plans.lineage"),
            (lineage, "explode_spans", "plans.pipeline"),
            (lineage, "encode_mentions", "functions.encoder"),
            (ann, "train_centroids", "operators.ann"),
            (ann, "link_ivf_broadcast", "operators.ann"),
            (TableStore, "overwrite_partitions", "plans.tables"),
            (TableStore, "overwrite", "plans.tables"),
            (TableStore, "read", "plans.tables"),
        ]
        with spans_around(tracer, targets):
            return self.call(spark, "traced")

    def extras(self, spark, traced: Call) -> dict:
        """The traced call's table sizes and skip count, then single-core
        kernel times on a fixed sample: driver-side ``encode_batch`` and a
        one-partition ``link_ivf_broadcast``, each per 10k spans; the index
        build and the size of the broadcast it produces."""
        from pyspark.sql import functions as F

        from cli_p_spark.config import TAU
        from cli_p_spark.functions.encoder import encode_batch
        from cli_p_spark.operators.ann import build_ivf_broadcast_value, \
            link_ivf_broadcast, train_centroids
        from cli_p_spark.plans.pipeline import explode_spans
        from cli_p_spark.plans.tables import TableStore

        s, cfg = self.sizes, self._config()
        out = traced.out_dir
        skips = TableStore(spark, out).read("skips")
        centroids = train_centroids(
            np.stack(self.ents["embedding"].to_numpy()), nlist=s["nlist"],
            seed=cfg.seed)
        n = 10_000
        contents = explode_spans(spark.read.parquet(self.docs_path)) \
            .select(F.when(F.col("kind") == "text", F.col("text"))
                    .otherwise(F.col("media_ref")).alias("c")) \
            .limit(n).toPandas()["c"]
        scale = n / len(contents)
        encode_batch(contents, dim=cfg.dim, seed=cfg.seed)
        enc = median(_timed(lambda: encode_batch(contents, dim=cfg.dim,
                                                 seed=cfg.seed))
                     for _ in range(3))

        value = None

        def build():
            nonlocal value
            value = build_ivf_broadcast_value(self.ents, centroids)

        index_s = median(_timed(build) for _ in range(3))
        mentions = spark.read.parquet(os.path.join(out, "mentions")) \
            .select("doc_id", "span_idx", "kind", "embedding") \
            .limit(n).coalesce(1).persist()
        m = mentions.count()

        def link():
            link_ivf_broadcast(mentions, self.ents, centroids, k=cfg.k,
                               tau=TAU, nprobe=s["nprobe"]).count()

        link()
        ann = median(_timed(link) for _ in range(3))
        mentions.unpersist()
        return {
            "encoder.skips": 0 if skips is None else skips.count(),
            "tables.mentions_mb": dir_mb(os.path.join(out, "mentions")),
            "tables.triples_mb": dir_mb(os.path.join(out, "triples")),
            "encoder.kernel_s_per_10k": enc * scale,
            "ann.kernel_s_per_10k": ann * n / m,
            "ann.index_build_s": index_s,
            "ann.broadcast_mb": len(pickle.dumps(value, protocol=5)) / MB,
        }


# --------------------------------------------------------------------------
# canon: LSH pairs -> connected components -> canonical mapping


class Canon(Workload):
    name = "canon"
    unit = "mentions"
    TAU = 0.95

    def make_inputs(self, spark) -> dict:
        from cli_p_spark.fixtures.distributed import distributed_mentions

        s = self.sizes
        self.rows = s["mentions"]
        self.path = os.path.join(self.inputs, "mentions")
        distributed_mentions(spark, s["mentions"], hub_copies=s["hub"],
                             seed=self.seed).write.parquet(self.path)
        return {"mentions": s["mentions"], "hub_copies": s["hub"],
                "tau": self.TAU, "group_col": "grp"}

    def _canon(self, spark, path: str, out: str, tracer: Tracer | None = None):
        import contextlib

        from pyspark.sql import functions as F

        from cli_p_spark.operators.ccomp import canonical_mapping, \
            connected_components
        from cli_p_spark.operators.lsh import hyperplane_lsh_pairs, \
            lsh_params_for_tau

        def span(name, label):
            return tracer.span(name, label) if tracer else \
                contextlib.nullcontext()

        m = spark.read.parquet(path)
        bits, bands = lsh_params_for_tau(self.TAU)
        stats: dict = {}
        with span("operators.lsh", "pairs") as sp:
            pairs = hyperplane_lsh_pairs(
                m, "embedding", "mention_id", tau=self.TAU, dim=64,
                bits_per_band=bits, bands=bands, group_col="grp")
            if tracer:
                pairs = pairs.persist()
                sp.counts["rows"] = pairs.count()
        with span("operators.ccomp", "cc") as sp:
            comps = connected_components(pairs.select("src", "dst"),
                                         stats=stats)
            if tracer:
                comps = comps.persist()
                comps.count()
                sp.counts["rounds"] = stats.get("rounds", 0)
        with span("operators.ccomp", "mapping"):
            canonical_mapping(
                comps, m.select(F.col("mention_id").alias("node"))
            ).write.parquet(out)
            n = spark.read.parquet(out).count()
        if tracer:
            pairs.unpersist()
            comps.unpersist()
        pairs.signature_cache.unpersist()
        return n

    def call(self, spark, i) -> Call:
        out = self.out_dir(f"call{i}")
        t0 = time.perf_counter()
        self._canon(spark, self.path, out)
        wall = time.perf_counter() - t0
        return Call(out, wall, wall)

    def digest(self, spark, call: Call) -> str:
        return digest(spark.read.parquet(call.out_dir),
                      ["node", "canonical_id"])

    def check(self, spark, call: Call) -> dict:
        from pyspark.sql import functions as F

        rng = np.random.default_rng(self.seed)
        groups = [0] + sorted(int(g) for g in rng.choice(
            np.arange(1, 256), self.sizes["check_groups"], replace=False))
        sample = spark.read.parquet(self.path) \
            .filter(F.col("grp").isin(groups))
        got = spark.read.parquet(call.out_dir).join(
            sample.select(F.col("mention_id").alias("node")), "node"
        ).toPandas()
        sample = sample.toPandas()
        return check_canon(dict(zip(got["node"], got["canonical_id"])),
                           oracle_components(sample, self.TAU))

    def traced(self, spark, tracer: Tracer) -> Call:
        out = self.out_dir("traced")
        self._canon(spark, self.path, out, tracer)
        return Call(out, 0.0, 0.0)

    def extras(self, spark, traced: Call) -> dict:
        comps = spark.read.parquet(traced.out_dir) \
            .select("canonical_id").distinct()
        return {"ccomp.components_out": comps.count()}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


WORKLOADS = {w.name: w for w in (KgIngest, Canon)}
