#!/usr/bin/env python3
"""spark-submit driver for the KG construction pipeline (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Package and launch:

    python -m zipfile -c /tmp/cli_p_spark.zip cli_p_spark
    spark-submit --py-files /tmp/cli_p_spark.zip run_kg.py \\
        --documents /data/documents_parquet \\
        --entities  /data/entity_index_parquet \\
        --output    /data/kg_out \\
        --run-id    run_$(date +%s) \\
        [--nlist 100] [--nprobe 32] [--parts 256]

Resume after a kill: rerun with the same --output — completed embed
partitions are detected via the lineage table and skipped.

On a real cluster drop the --master default (local) and let
spark-submit's --master/--deploy-mode take over; every shuffle/partition
decision in the pipeline is cluster-size-agnostic (deterministic hashes,
explicit repartition widths from --parts).

Inputs:
  --documents  parquet with (doc_id string, spans array<struct<kind,text,
               media_ref,offset>>)  [synthesized if --synth N is given]
  --entities   parquet with (entity_id string, name string,
               embedding array<float>)  [synthesized if --synth-entities N]
Outputs under --output: mentions/ skips/ triples/ lineage/ (see
cli_p_spark/plans/lineage.py for the resume protocol).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents")
    ap.add_argument("--entities")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default=f"run{int(time.time())}")
    ap.add_argument("--nlist", type=int, default=100)
    ap.add_argument("--nprobe", type=int, default=32)
    ap.add_argument("--parts", type=int, default=32)
    ap.add_argument("--tau", type=float, default=None)
    ap.add_argument("--synth", type=int, default=0,
                    help="synthesize N documents instead of --documents")
    ap.add_argument("--synth-entities", type=int, default=2000)
    ap.add_argument("--master", default=None,
                    help="override master (default: spark-submit's)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("cli_p_spark-kg")
    if args.master:
        builder = builder.master(args.master)
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from cli_p_spark.config import TAU, PipelineConfig
    from cli_p_spark.fixtures.generate import make_entities
    from cli_p_spark.plans.lineage import run_pipeline

    cfg = PipelineConfig(
        tau=args.tau if args.tau is not None else TAU,
        embed_partitions=args.parts,
    )

    if args.synth:
        from cli_p_spark.fixtures.distributed import distributed_documents

        ents_pdf = make_entities(args.synth_entities)
        docs = distributed_documents(spark, args.synth, ents_pdf)
    else:
        if not args.documents or not args.entities:
            ap.error("--documents and --entities required without --synth")
        docs = spark.read.parquet(args.documents)
        ents_pdf = spark.read.parquet(args.entities).toPandas()

    t0 = time.time()
    result = run_pipeline(
        spark, docs, ents_pdf, args.output, cfg,
        run_id=args.run_id, n_parts=args.parts,
        nlist=args.nlist, nprobe=args.nprobe,
    )
    wall = time.time() - t0
    print(json.dumps({
        "status": result["status"],
        "run_id": args.run_id,
        "out_dir": args.output,
        "n_triples": result["n_triples"],
        "wall_s": round(wall, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
