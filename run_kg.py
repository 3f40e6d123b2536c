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

Resume: rerun with the same --output.  The embed partitions an earlier
finished run committed to the lineage table are skipped.  A run commits
its lineage once, after all of its writes, so a run killed before that
commit keeps none of its partitions, and with no earlier lineage the
rerun starts over.

On a real cluster leave --master unset and let spark-submit's
--master/--deploy-mode take over (its --conf values, too, win over the
session defaults of cli_p_spark.session.get_spark); every shuffle/partition
decision in the pipeline is cluster-size-agnostic (deterministic hashes,
explicit repartition widths from --parts).  The session prefers
shuffled-hash joins; a memory-tight deployment restores sort-merge with
--conf spark.sql.join.preferSortMergeJoin=true.

Inputs:
  --documents  parquet with (doc_id string, spans array<struct<kind,text,
               media_ref,offset>>)  [synthesized if --synth N is given]
  --entities   parquet with (entity_id string, name string,
               embedding array<float>)  [synthesized if --synth-entities N]
Outputs under --output, each partitioned by part_id except lineage:
mentions/ skips/ triples/ lineage/ (see cli_p_spark/plans/lineage.py for
the resume protocol).  A resume must use the same --parts, --nlist,
--nprobe, --tau and entity table as the run it continues; otherwise it
fails before writing anything.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    from cli_p_spark.config import NLIST, NPROBE

    ap = argparse.ArgumentParser()
    ap.add_argument("--documents")
    ap.add_argument("--entities")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default=f"run{int(time.time())}")
    ap.add_argument("--nlist", type=int, default=NLIST)
    ap.add_argument("--nprobe", type=int, default=NPROBE)
    ap.add_argument("--parts", type=int, default=32)
    ap.add_argument("--tau", type=float, default=None)
    ap.add_argument("--synth", type=int, default=0,
                    help="synthesize N documents instead of --documents")
    ap.add_argument("--synth-entities", type=int, default=2000)
    ap.add_argument("--master", default=None,
                    help="override master (default: spark-submit's)")
    args = ap.parse_args(argv)

    from cli_p_spark.session import get_spark

    spark = get_spark(app="cli_p_spark-kg", master=args.master)

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
