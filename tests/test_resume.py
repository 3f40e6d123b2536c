"""M5 gate: kill/resume at partition granularity (SURVEY.md §5.5).

Kill after p embed partitions; resume; assert (a) the resumed run only
computed the missing partitions (lineage run_id proves it), (b) final
triples equal a fresh uninterrupted run."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import documents_to_spark
from cli_p_spark.plans.lineage import read_lineage, run_pipeline


def _triples_set(spark, out_dir):
    return sorted(
        map(
            tuple,
            spark.read.parquet(f"{out_dir}/triples")
            .select("subj", "span_idx", "pred", "obj")
            .collect(),
        )
    )


def test_kill_resume_partition_granularity(spark, corpus_small, tmp_path):
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    cfg = PipelineConfig()

    # fresh run as the golden result
    full_dir = str(tmp_path / "full")
    r = run_pipeline(spark, docs, ents_pdf, full_dir, cfg, run_id="full")
    assert r["status"] == "done"

    # killed run: only 5 of 16 partitions complete
    resume_dir = str(tmp_path / "resume")
    r1 = run_pipeline(
        spark, docs, ents_pdf, resume_dir, cfg,
        run_id="run1", fail_after_parts=5,
    )
    assert r1["status"] == "killed"
    lin1 = read_lineage(spark, resume_dir)
    done1 = {
        r["part_id"] for r in lin1.filter("stage='embed'").collect()
    }
    assert len(done1) == 5

    # resume: must finish, recomputing nothing from run1
    r2 = run_pipeline(
        spark, docs, ents_pdf, resume_dir, cfg, run_id="run2"
    )
    assert r2["status"] == "done"
    lin = read_lineage(spark, resume_dir).filter("stage='embed'").collect()
    by_run = {}
    for row in lin:
        by_run.setdefault(row["run_id"], set()).add(row["part_id"])
    assert by_run["run1"] == done1  # untouched
    assert by_run["run2"].isdisjoint(done1)  # nothing recomputed
    assert len(by_run["run1"] | by_run["run2"]) == 16

    # identical final result
    assert _triples_set(spark, resume_dir) == _triples_set(spark, full_dir)


def test_rerun_completed_is_noop_for_embed(spark, corpus_small, tmp_path):
    """Re-running a finished pipeline re-embeds nothing (idempotency,
    reference semantics build-index.py:42-44)."""
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    out = str(tmp_path / "once")
    run_pipeline(spark, docs, ents_pdf, out, run_id="a")
    n_mentions_before = spark.read.parquet(f"{out}/mentions").count()
    run_pipeline(spark, docs, ents_pdf, out, run_id="b")
    lin = read_lineage(spark, out).filter(
        (F.col("stage") == "embed") & (F.col("run_id") == "b")
    )
    assert lin.count() == 0  # no embed partitions recomputed
    assert spark.read.parquet(f"{out}/mentions").count() == n_mentions_before


def test_lineage_metrics_present(spark, corpus_small, tmp_path):
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    out = str(tmp_path / "metrics")
    run_pipeline(spark, docs, ents_pdf, out, run_id="m")
    lin = read_lineage(spark, out)
    embed = lin.filter("stage='embed'")
    assert embed.count() == 16
    assert embed.filter("n_rows <= 0").count() == 0
    assert embed.filter("wall_s <= 0").count() == 0
    assert lin.filter("stage='link' and n_rows > 0").count() == 1
    # the corrupt span was quarantined and counted in exactly one partition
    assert embed.agg(F.sum("n_skips")).first()[0] == 1


def test_kill_inside_commit_window_no_duplicates(spark, corpus_small,
                                                 tmp_path):
    """The crash-atomicity gate: kill AFTER partition data commits but
    BEFORE its lineage rows do (fail_mode='after_data').  The resume
    re-runs those partitions; dynamic-partition overwrite must replace,
    not duplicate, their mention rows — final result identical to a
    fresh uninterrupted run."""
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    cfg = PipelineConfig()

    full_dir = str(tmp_path / "full")
    run_pipeline(spark, docs, ents_pdf, full_dir, cfg, run_id="full")

    crash_dir = str(tmp_path / "crash")
    r1 = run_pipeline(
        spark, docs, ents_pdf, crash_dir, cfg,
        run_id="run1", fail_after_parts=5, fail_mode="after_data",
    )
    assert r1["status"] == "killed"
    # data landed, lineage did not: the exact corruption window
    assert read_lineage(spark, crash_dir) is None
    n_orphan = spark.read.parquet(f"{crash_dir}/mentions").count()
    assert n_orphan > 0

    r2 = run_pipeline(spark, docs, ents_pdf, crash_dir, cfg, run_id="run2")
    assert r2["status"] == "done"
    # every partition re-ran (none was marked done)...
    lin = read_lineage(spark, crash_dir).filter("stage='embed'")
    assert lin.filter("run_id='run2'").count() == 16
    # ...and the overwritten partitions hold NO duplicate mentions
    men = spark.read.parquet(f"{crash_dir}/mentions")
    assert men.count() == men.select("doc_id", "span_idx").distinct().count()
    assert men.count() == spark.read.parquet(f"{full_dir}/mentions").count()
    assert _triples_set(spark, crash_dir) == _triples_set(spark, full_dir)


def test_tablestore_read_raises_on_corrupt_not_absent(spark, tmp_path):
    """TableStore.read returns None ONLY for table-absent; a corrupt
    table raises instead of silently restarting the pipeline from
    scratch (which would duplicate every partition)."""
    import pytest

    from cli_p_spark.plans.tables import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    assert store.read("nope") is None  # absent -> None
    # corrupt parquet footer -> must raise, not masquerade as absent
    bad = tmp_path / "store" / "broken"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        df = store.read("broken")
        df.collect()  # some engines defer footer reads to the scan


def _part_ids(spark, doc_ids):
    """pmod(xxhash64(doc_id), 16) per doc id, evaluated by Spark: the
    partition run_pipeline's default n_parts puts each document in."""
    df = spark.createDataFrame([(d,) for d in doc_ids], "doc_id string")
    return {
        r["doc_id"]: r["p"]
        for r in df.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(16)).alias("p")
        ).collect()
    }


# fresh-run Spark jobs on corpus_small, measured with the fused embed
# stage (explode once, encode and link in one cached pass, counts from that
# cache, Arrow lineage rows, triples counted by an Observation); the
# separate link pass over mentions/ and the triples read-back it replaced
# put the same run at 13 jobs, the earlier scan pre-pass and read-backs
# at 20
FRESH_RUN_MAX_JOBS = 9


@pytest.fixture(scope="module")
def fresh_run(spark, corpus_small, tmp_path_factory):
    """One fresh run_pipeline on corpus_small under its own job group,
    recording the RDD lineage of every lineage-table append."""
    from cli_p_spark.plans.tables import TableStore

    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    out = str(tmp_path_factory.mktemp("fresh") / "out")
    append = TableStore.append
    lineage_rdds = []

    def recording_append(self, df, table, partition_by=()):
        if table == "lineage":
            lineage_rdds.append(
                df._jdf.queryExecution().toRdd().toDebugString())
        return append(self, df, table, partition_by)

    sc = spark.sparkContext
    sc.setJobGroup("fresh_run", "fresh run_pipeline on corpus_small")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(TableStore, "append", recording_append)
            run_pipeline(spark, docs, ents_pdf, out, run_id="fresh")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store fills from an asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("fresh_run")
    return out, jobs, lineage_rdds


def test_skips_land_in_their_hash_partition(spark, fresh_run):
    """The skips write takes part_id from the encoded frame; the corrupt
    span must land in pmod(xxhash64(doc_id), n_parts), and the embed
    lineage row counting it must be that same partition."""
    out, _, _ = fresh_run
    skips = spark.read.parquet(f"{out}/skips").collect()
    assert len(skips) == 1
    (skip,) = skips
    assert skip["part_id"] == _part_ids(spark, [skip["doc_id"]])[
        skip["doc_id"]]
    counted = read_lineage(spark, out).filter(
        "stage = 'embed' and n_skips = 1").collect()
    assert [r["part_id"] for r in counted] == [skip["part_id"]]


def test_fresh_run_job_count_guard(fresh_run):
    """A scan pre-pass, a read-back of the written tables or a lineage
    commit of pickled rows through a Python RDD would each add Spark
    work to the fresh run; this pins the job count and the commit path."""
    _, jobs, lineage_rdds = fresh_run
    assert 0 < len(jobs) <= FRESH_RUN_MAX_JOBS, len(jobs)
    assert len(lineage_rdds) == 2  # embed rows, then the link row
    for rdd in lineage_rdds:
        assert "PythonRDD" not in rdd, rdd


def test_one_file_per_partition_and_exact_link_count(spark, fresh_run):
    """The embed pass is range-partitioned by part_id, so each partition
    directory is written by one task: one file, not one per encode task.
    The link lineage row counts exactly the triples written."""
    out, _, _ = fresh_run
    for table in ("mentions", "skips"):
        dirs = glob.glob(os.path.join(out, table, "part_id=*"))
        assert dirs, table
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    (link,) = read_lineage(spark, out).filter("stage = 'link'").collect()
    assert link["n_rows"] == spark.read.parquet(f"{out}/triples").count()


def _all_triples(df):
    return sorted(
        map(tuple, df.select("subj", "pred", "obj", "score", "span_idx",
                             "rank").collect())
    )


def test_fused_and_disk_links_agree_at_k3(spark, corpus_small, tmp_path):
    """Both link sources of run_pipeline give the same triples, scores and
    ranks: the fused pass (this run's partitions) and link_ivf_broadcast
    over mentions/ (partitions finished by an earlier run)."""
    import numpy as np

    from cli_p_spark.operators.ann import link_ivf_broadcast, train_centroids
    from cli_p_spark.plans.pipeline import triples_from_links

    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    cfg = PipelineConfig(k=3)

    full = str(tmp_path / "full")
    r = run_pipeline(spark, docs, ents_pdf, full, cfg, run_id="full")
    fresh = _all_triples(spark.read.parquet(f"{full}/triples"))
    assert r["n_triples"] == len(fresh)
    assert {t[5] for t in fresh} == {1, 2, 3}

    centroids = train_centroids(
        np.stack(ents_pdf["embedding"].to_numpy()), nlist=100, seed=cfg.seed)
    mentions = spark.read.parquet(f"{full}/mentions").select(
        "doc_id", "span_idx", "kind", "embedding")
    relinked = triples_from_links(link_ivf_broadcast(
        mentions, ents_pdf, centroids, k=cfg.k, tau=cfg.tau, nprobe=32))
    assert _all_triples(relinked) == fresh

    crash = str(tmp_path / "crash")
    r1 = run_pipeline(spark, docs, ents_pdf, crash, cfg, run_id="run1",
                      fail_after_parts=5)
    assert r1["status"] == "killed"
    r2 = run_pipeline(spark, docs, ents_pdf, crash, cfg, run_id="run2")
    assert r2["n_triples"] == len(fresh)
    assert _all_triples(spark.read.parquet(f"{crash}/triples")) == fresh
    # the resumed run also wrote one file per partition it ran
    for d in glob.glob(os.path.join(crash, "mentions", "part_id=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_resume_with_empty_partition_ids(spark, corpus_small, tmp_path):
    """Fewer documents than partitions: ids no document hashes to get no
    lineage, a rerun re-embeds nothing, and a kill whose partitions
    include empty ids resumes to the fresh run's triples."""
    docs_pdf, ents_pdf = corpus_small
    few = docs_pdf.head(6)
    docs = documents_to_spark(spark, few)
    present = sorted(set(_part_ids(spark, list(few["doc_id"])).values()))
    assert len(present) < 16

    def embed_ids(out, run_id):
        return {
            r["part_id"]
            for r in read_lineage(spark, out).filter(
                (F.col("stage") == "embed") & (F.col("run_id") == run_id)
            ).collect()
        }

    full = str(tmp_path / "full")
    run_pipeline(spark, docs, ents_pdf, full, run_id="a")
    assert sorted(embed_ids(full, "a")) == present
    n_mentions = spark.read.parquet(f"{full}/mentions").count()
    run_pipeline(spark, docs, ents_pdf, full, run_id="b")
    assert embed_ids(full, "b") == set()
    assert spark.read.parquet(f"{full}/mentions").count() == n_mentions

    # the kill covers ids 0..present[1]: two present ids and the empty
    # ids before them
    n_kill = present[1] + 1
    assert n_kill > 2
    crash = str(tmp_path / "crash")
    r1 = run_pipeline(spark, docs, ents_pdf, crash, run_id="run1",
                      fail_after_parts=n_kill)
    assert r1["status"] == "killed"
    assert embed_ids(crash, "run1") == set(present[:2])
    r2 = run_pipeline(spark, docs, ents_pdf, crash, run_id="run2")
    assert r2["status"] == "done"
    assert sorted(embed_ids(crash, "run2")) == present[2:]
    assert _triples_set(spark, crash) == _triples_set(spark, full)
