"""One benchmark run: set up, generate inputs, call the workload in a closed
loop for the run's seconds, check the outputs, and with tracing on, make
one traced pass.  ``run`` returns the result object and a record of the
host and inputs."""

from __future__ import annotations

import os
import platform
import shutil
import time
import traceback

from .measure import (
    JobGroups,
    RssSampler,
    Tracer,
    jvm_pid,
    layer_self_times,
    median,
    shutdown_spark,
)
from .workloads import WORKLOADS, dir_mb

# Sizes keep one call at a few seconds on a 4-core host, so a run holds
# several calls; see README.md for the measurements behind them.
SIZES = {
    "kg_ingest": {"docs": 2000, "entities": 2000, "parts": 8, "nlist": 100,
                  "nprobe": 32, "check_docs": 200,
                  "min_pr": 0.95},
    "canon": {"mentions": 30_000, "hub": 20_000, "check_groups": 8},
}

# setup_s is the median of this many set-ups in one run.  The first
# launches the JVM; the others restart the session inside it, so the median
# is a restart and session.cold_setup_s is the launch.
SETUPS = 3
MIN_CALLS = 1  # timed calls per run, at least

END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
    "output_mb": "MB",
    "link_precision": "ratio",
    "link_recall": "ratio",
    "canon_accuracy": "ratio",
}

PER_LAYER = {
    "session.cold_setup_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "fixtures.input_gen_s": "s",
    "pipeline.explode_s": "s",
    "pipeline.spans_out": "count",
    "encoder.encode_s": "s",
    "encoder.repartition_shuffle_mb": "MB",
    "encoder.kernel_s_per_10k": "s",
    "encoder.skips": "count",
    "tables.mentions_write_s": "s",
    "tables.read_s": "s",
    "tables.mentions_mb": "MB",
    "tables.triples_write_s": "s",
    "tables.triples_mb": "MB",
    "ann.train_s": "s",
    "ann.index_build_s": "s",
    "ann.broadcast_mb": "MB",
    "ann.link_s": "s",
    "ann.kernel_s_per_10k": "s",
    "ann.links_out": "count",
    "lineage.embed_stage_s": "s",
    "lineage.link_stage_s": "s",
    "lineage.bookkeeping_s": "s",
    "lineage.parts_skipped": "count",
    "lineage.traced_s": "s",
    "lsh.pairs_s": "s",
    "lsh.edges_out": "count",
    "lsh.shuffle_write_mb": "MB",
    "lsh.spill_mb": "MB",
    "lsh.task_skew": "ratio",
    "ccomp.cc_s": "s",
    "ccomp.rounds": "count",
    "ccomp.shuffle_write_mb": "MB",
    "ccomp.mapping_s": "s",
    "ccomp.components_out": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}

# per-layer self time in the traced pass: metric -> the (layer, label) spans
# it sums.  Together these are the layer self-times that must reconcile
# with the traced total.
SPAN_TIMES = {
    "pipeline.explode_s": [("plans.pipeline", "explode_spans")],
    "encoder.encode_s": [("functions.encoder", "encode_mentions")],
    "tables.mentions_write_s": [
        ("plans.tables", "overwrite_partitions:mentions"),
        ("plans.tables", "overwrite_partitions:skips")],
    "tables.read_s": [("plans.tables", f"read:{t}")
                      for t in ("lineage", "mentions", "skips", "triples")],
    "tables.triples_write_s": [("plans.tables", "overwrite:triples")],
    "ann.train_s": [("operators.ann", "train_centroids")],
    "ann.link_s": [("operators.ann", "link_ivf_broadcast")],
    "lineage.traced_s": [("plans.lineage", "run_pipeline"),
                         ("plans.lineage", "read_lineage"),
                         ("plans.lineage", "_append_lineage")],
    "lsh.pairs_s": [("operators.lsh", "pairs")],
    "ccomp.cc_s": [("operators.ccomp", "cc")],
    "ccomp.mapping_s": [("operators.ccomp", "mapping")],
}
# metric -> (layer, label, key): a count the span recorded, or (prefixed
# "stats.") a number from its job group's stages
SPAN_VALUES = {
    "pipeline.spans_out": ("plans.pipeline", "explode_spans", "rows"),
    "encoder.repartition_shuffle_mb":
        ("functions.encoder", "encode_mentions", "stats.shuffle_write_mb"),
    "ann.links_out": ("operators.ann", "link_ivf_broadcast", "rows"),
    "lsh.edges_out": ("operators.lsh", "pairs", "rows"),
    "lsh.shuffle_write_mb": ("operators.lsh", "pairs",
                             "stats.shuffle_write_mb"),
    "lsh.spill_mb": ("operators.lsh", "pairs", "stats.spill_mb"),
    "lsh.task_skew": ("operators.lsh", "pairs", "stats.task_skew"),
    "ccomp.rounds": ("operators.ccomp", "cc", "rounds"),
    "ccomp.shuffle_write_mb": ("operators.ccomp", "cc",
                               "stats.shuffle_write_mb"),
}
LAYER_OF = {"pipeline": "plans.pipeline", "encoder": "functions.encoder",
            "tables": "plans.tables", "ann": "operators.ann",
            "lineage": "plans.lineage", "lsh": "operators.lsh",
            "ccomp": "operators.ccomp"}

HISTORY_NOTE = ("BENCH_r01-r07 were taken on a 32-core host: they are "
                "history, not a baseline for this benchmark")


def start_session(nproc: int, work: str):
    """The engine's session factory on local[nproc], with the package
    shipped to the Python workers."""
    import __spark_entry__ as entry
    from cli_p_spark.session import get_spark

    local = os.path.join(work, "spark")
    spark = get_spark(
        app="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=2 * nproc,
        extra={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
            # the status store must keep every job and stage of the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    entry._ensure_workers(spark)
    return spark


def _warm_partition(batches):
    from cli_p_spark.functions.encoder import encode_batch

    for pdf in batches:
        encode_batch([f"warm {i}" for i in pdf["id"]])
        yield pdf


def warm_job(spark, nproc: int) -> None:
    """Start every Python worker and import the engine in it."""
    spark.range(0, 64 * nproc, numPartitions=nproc) \
        .mapInPandas(_warm_partition, "id long").count()


def host_info(spark, nproc: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "arrow": pyarrow.__version__,
        "openblas_num_threads": os.environ.get("OPENBLAS_NUM_THREADS"),
        "machine": platform.machine(),
        "history": HISTORY_NOTE,
    }


def run(name: str, seed: int, seconds: float, trace: bool,
        work: str) -> tuple[dict, dict]:
    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[name](work, seed, SIZES[name])

    # -- set-up, several times: session start, shipping, warm-up job ------
    starts, warms, spark = [], [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(nproc, work)
            t1 = time.perf_counter()
            warm_job(spark, nproc)
            starts.append(t1 - t0)
            warms.append(time.perf_counter() - t1)
        t0 = time.perf_counter()
        inputs = wl.make_inputs(spark)
        gen_s = time.perf_counter() - t0
        setup = [s + w for s, w in zip(starts, warms)]
        info = {"workload": name, "seed": seed, "seconds": seconds,
                "trace": int(trace), "host": host_info(spark, nproc),
                "inputs": {**inputs, "rows": wl.rows, "row": wl.unit},
                "setup_s": setup}
        result = _measure(spark, wl, seconds, trace, info)
    finally:
        if spark is not None:
            shutdown_spark(spark)
    layers = result.pop("layers")
    layers.update({
        "session.cold_setup_s": setup[0],
        "session.start_s": median(starts),
        "session.warmup_s": median(warms),
        "fixtures.input_gen_s": gen_s,
    })
    metrics = dict(result.pop("e2e"), setup_s=median(setup))
    chosen, units = (layers, PER_LAYER) if trace else (metrics, END_TO_END)
    result["metrics"] = {m: {"value": float(chosen[m]), "unit": u}
                         for m, u in units.items()}
    info["end_to_end"] = metrics
    info["per_layer"] = layers
    return result, info


def _measure(spark, wl, seconds: float, trace: bool, info: dict) -> dict:
    groups = JobGroups(spark, "perfbench")
    pid = jvm_pid()
    # The first call of a session runs up to twice as slow as later ones
    # (JIT, codegen, worker caches), and a warm-up on a small input left the
    # next call still 25% slow: one untimed call on the real input goes
    # first.  Its output is the one checked against the oracle; every later
    # call must commit the same digest.
    t0 = time.perf_counter()
    warm = wl.call(spark, "warm")
    info["warm_call_s"] = time.perf_counter() - t0
    want = wl.digest(spark, warm)
    t0 = time.perf_counter()
    check = wl.check(spark, warm)
    info["check_s"] = time.perf_counter() - t0
    shutil.rmtree(warm.out_dir, ignore_errors=True)
    attempted, failed = 1, 0 if check["ok"] else 1

    calls = []
    t_start = time.perf_counter()
    # closed loop: a call starts while fewer than MIN_CALLS succeeded or the
    # timed part of the run is younger than ``seconds``
    while len(calls) < MIN_CALLS or time.perf_counter() - t_start < seconds:
        if attempted > 100:
            raise RuntimeError(f"{wl.name}: no call succeeded")
        i = attempted
        attempted += 1
        try:
            group = groups.new(f"call{i}")
            groups.set(group, f"{wl.name} call {i}")
            try:
                with RssSampler(pid) as rss:
                    c = wl.call(spark, i)
            finally:
                groups.set(None)
            rec = {"wall_s": c.wall_s, "rss_mb": rss.peak / 1e6,
                   "output_mb": dir_mb(c.out_dir),
                   "digest": wl.digest(spark, c),
                   "spark": groups.stats(group)}
            if trace:
                rec["layers"] = wl.call_layers(spark, c)
            shutil.rmtree(c.out_dir, ignore_errors=True)
            calls.append(rec)
            if rec["digest"] != want or not check["ok"]:
                failed += 1
        except Exception:
            traceback.print_exc()
            failed += 1

    info["calls"] = [{k: v for k, v in r.items() if k != "layers"}
                     for r in calls]
    info["check"] = check

    layers = {}
    if trace:
        attempted += 1
        layers = _traced(spark, wl, groups, calls)
        if layers.pop("digest") != want or not check["ok"]:
            failed += 1

    wall = median(r["wall_s"] for r in calls)
    info["error_rate"] = failed / attempted
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "worker_rss_mb": median(r["rss_mb"] for r in calls),
            "output_mb": median(r["output_mb"] for r in calls),
            "link_precision": check["precision"],
            "link_recall": check["recall"],
            "canon_accuracy": check["accuracy"],
        },
        "layers": layers,
    }


def _traced(spark, wl, groups: JobGroups, calls: list) -> dict:
    """One traced pass, then the per-layer values.  A layer this workload
    never calls is reported from an empty span opened for it: its times
    read the span's own cost (a constant 0 would read the same on every
    run, which a time must not), its counts and sizes 0."""
    tracer = Tracer(groups)
    with tracer.span("trace", "total") as root:
        c = wl.traced(spark, tracer)
    tracer.read_stats()
    values = {"digest": wl.digest(spark, c)}
    values.update(wl.extras(spark, c))
    selfs = layer_self_times(tracer.spans)
    reconciled = 0.0
    for metric, keys in SPAN_TIMES.items():
        if any(k in selfs for k in keys):
            values[metric] = sum(selfs.get(k, 0.0) for k in keys)
            reconciled += values[metric]
    for metric, (layer, label, key) in SPAN_VALUES.items():
        spans = tracer.find(layer, label)
        if spans:
            src = spans[0].stats if key.startswith("stats.") \
                else spans[0].counts
            values[metric] = src.get(key.removeprefix("stats."), 0)
    for metric in PER_LAYER:
        if calls and "layers" in calls[0] and metric in calls[0]["layers"]:
            values[metric] = median(r["layers"][metric] for r in calls)
    wall = median(r["wall_s"] for r in calls)
    for key in ("shuffle_write_mb", "spill_mb", "task_skew", "jobs",
                "tasks"):
        values[f"spark.{key}"] = median(r["spark"][key] for r in calls)
    values["trace.overhead_s"] = root.duration - wall
    values["trace.coverage"] = reconciled / root.duration
    for metric, unit in PER_LAYER.items():
        if metric in values or metric.split(".")[0] not in LAYER_OF:
            continue
        with tracer.span(LAYER_OF[metric.split(".")[0]], metric) as s:
            pass
        values[metric] = s.duration if unit == "s" else 0
    return values
