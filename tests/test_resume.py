"""M5 gate: kill/resume at partition granularity (SURVEY.md §5.5).

A resume skips the partitions an earlier finished run committed; a run
commits its lineage once, after all of its writes, so a real kill before
that commit leaves nothing to resume from.  The tests start only from
states a run can leave:

- a partly committed output: a finished run over only the documents of
  some part ids (``_subset``);
- a kill inside the commit window: ``_append_lineage`` raises, so the
  run's data lands and its lineage does not (``_no_lineage_commit``).

Resume; assert (a) the resumed run only computed the missing partitions
(lineage run_id proves it), (b) final triples equal a fresh
uninterrupted run."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from cli_p_spark.config import PipelineConfig
from cli_p_spark.fixtures.generate import documents_to_spark
from cli_p_spark.plans import lineage
from cli_p_spark.plans.lineage import read_lineage, run_pipeline


def _subset(docs, parts, n_parts=16):
    """The documents whose part id is in ``parts``: a finished run over
    them leaves the partly committed output a resume starts from."""
    return docs.filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).isin(list(parts)))


class _Killed(Exception):
    pass


def _no_lineage_commit(monkeypatch):
    """A kill inside the commit window: the run's partition data lands,
    then its lineage commit fails."""
    def killed(*args, **kwargs):
        raise _Killed("killed before the lineage commit")

    monkeypatch.setattr(lineage, "_append_lineage", killed)


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

    # partly committed output: a finished run over 5 of 16 partitions
    resume_dir = str(tmp_path / "resume")
    r1 = run_pipeline(
        spark, _subset(docs, range(5)), ents_pdf, resume_dir, cfg,
        run_id="run1",
    )
    assert r1["status"] == "done"
    lin1 = read_lineage(spark, resume_dir)
    done1 = {
        r["part_id"] for r in lin1.filter("stage='embed'").collect()
    }
    assert done1 == set(range(5))

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
    # links are counted per partition: no separate link row any more
    assert lin.count() == 16
    assert embed.filter("n_links < 0").count() == 0
    assert embed.agg(F.sum("n_links")).first()[0] > 0
    # the corrupt span was quarantined and counted in exactly one partition
    assert embed.agg(F.sum("n_skips")).first()[0] == 1


def test_kill_inside_commit_window_no_duplicates(spark, corpus_small,
                                                 tmp_path, monkeypatch):
    """The crash-atomicity gate: a resume is killed AFTER its partition
    data commits but BEFORE its lineage rows do.  The next resume re-runs
    those partitions; dynamic-partition overwrite must replace, not
    duplicate, their mention rows — final result identical to a fresh
    uninterrupted run."""
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    cfg = PipelineConfig()

    full_dir = str(tmp_path / "full")
    run_pipeline(spark, docs, ents_pdf, full_dir, cfg, run_id="full")

    crash_dir = str(tmp_path / "crash")
    run_pipeline(spark, _subset(docs, range(5)), ents_pdf, crash_dir, cfg,
                 run_id="run1")
    n_committed = spark.read.parquet(f"{crash_dir}/mentions").count()
    _no_lineage_commit(monkeypatch)
    with pytest.raises(_Killed):
        run_pipeline(spark, docs, ents_pdf, crash_dir, cfg, run_id="run2")
    monkeypatch.undo()
    # data landed, lineage did not: the exact corruption window
    lin = read_lineage(spark, crash_dir).filter("stage='embed'")
    assert {r["run_id"] for r in lin.collect()} == {"run1"}
    n_orphan = spark.read.parquet(f"{crash_dir}/mentions").count()
    assert n_orphan > n_committed

    r3 = run_pipeline(spark, docs, ents_pdf, crash_dir, cfg, run_id="run3")
    assert r3["status"] == "done"
    # every uncommitted partition re-ran, no committed one did...
    lin = read_lineage(spark, crash_dir).filter("stage='embed'")
    assert {r["part_id"] for r in lin.filter("run_id='run3'").collect()} \
        == set(range(5, 16))
    assert lin.count() == 16
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


# fresh-run Spark jobs on corpus_small, measured with plan_kg's cached
# pass feeding the mentions write, one counts job (rows, skips, links per
# partition), the skips write and the per-partition triples write, and
# one Arrow lineage commit (8 jobs); the unpartitioned triples write
# counted by an Observation and a separate link-row commit put the same
# run at 9, the separate link pass over mentions/ at 13, the earlier scan
# pre-pass and read-backs at 20
FRESH_RUN_MAX_JOBS = 8


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
    assert len(lineage_rdds) == 1  # one commit: a row per partition
    for rdd in lineage_rdds:
        assert "PythonRDD" not in rdd, rdd


def test_one_file_per_partition_and_exact_link_count(spark, fresh_run):
    """The embed pass is placed by part_id, so each partition directory
    is written by one task: one file, not one per encode task.  Each
    partition's lineage n_links counts exactly the triples written under
    it."""
    out, _, _ = fresh_run
    for table in ("mentions", "skips", "triples"):
        dirs = glob.glob(os.path.join(out, table, "part_id=*"))
        assert dirs, table
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    n_links = {r["part_id"]: r["n_links"]
               for r in read_lineage(spark, out).collect()}
    written = {r["part_id"]: r["count"] for r in spark.read.parquet(
        f"{out}/triples").groupBy("part_id").count().collect()}
    assert n_links == written


def _all_triples(df):
    return sorted(
        map(tuple, df.select("subj", "pred", "obj", "score", "span_idx",
                             "rank").collect())
    )


def test_fused_and_disk_links_agree_at_k3(spark, corpus_small, tmp_path):
    """The triples a run stores are the links of the mentions it stores:
    link_ivf_broadcast over mentions/ gives the same triples, scores and
    ranks.  A partly committed output of 5 partitions resumes to those
    triples and the same n_triples, relinking nothing: the first run's
    partitions keep the triples it wrote."""
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
    r1 = run_pipeline(spark, _subset(docs, range(5)), ents_pdf, crash, cfg,
                      run_id="run1")
    assert r1["status"] == "done"
    first = {r["part_id"] for r in read_lineage(spark, crash).collect()}
    assert first == set(range(5))
    stored = {
        d: sorted(glob.glob(os.path.join(crash, "triples", f"part_id={d}",
                                         "*.parquet")))
        for d in first
    }
    r2 = run_pipeline(spark, docs, ents_pdf, crash, cfg, run_id="run2")
    assert r2["n_triples"] == len(fresh)
    assert _all_triples(spark.read.parquet(f"{crash}/triples")) == fresh
    # the resume left the first run's triples files as they were
    assert stored == {
        d: sorted(glob.glob(os.path.join(crash, "triples", f"part_id={d}",
                                         "*.parquet")))
        for d in first
    }
    # the resumed run also wrote one file per partition it ran
    for d in glob.glob(os.path.join(crash, "mentions", "part_id=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_resume_with_empty_partition_ids(spark, corpus_small, tmp_path):
    """Fewer documents than partitions: ids no document hashes to get no
    lineage, a rerun re-embeds nothing, and a partly committed output
    whose part ids include empty ones resumes to the fresh run's
    triples."""
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

    # the first run covers ids 0..present[1]: two present ids and the
    # empty ids before them
    n_first = present[1] + 1
    assert n_first > 2
    crash = str(tmp_path / "crash")
    r1 = run_pipeline(spark, _subset(docs, range(n_first)), ents_pdf, crash,
                      run_id="run1")
    assert r1["status"] == "done"
    assert embed_ids(crash, "run1") == set(present[:2])
    r2 = run_pipeline(spark, docs, ents_pdf, crash, run_id="run2")
    assert r2["status"] == "done"
    assert sorted(embed_ids(crash, "run2")) == present[2:]
    assert _triples_set(spark, crash) == _triples_set(spark, full)


def _listing(root):
    """Every file under ``root`` with its size and mtime."""
    return sorted(
        (p, os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def test_resume_under_changed_config_raises(spark, corpus_small, tmp_path):
    """A partly committed output at 16 parts resumed at 8 parts, or with
    k=3, would mix two link sets in triples/: the resume raises before it
    writes anything.  The same config then resumes."""
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    crash = str(tmp_path / "crash")
    r1 = run_pipeline(spark, _subset(docs, range(5)), ents_pdf, crash,
                      run_id="run1")
    assert r1["status"] == "done"
    before = _listing(crash)
    for change in ({"n_parts": 8}, {"cfg": PipelineConfig(k=3)}):
        with pytest.raises(ValueError, match="config"):
            run_pipeline(spark, docs, ents_pdf, crash, run_id="run2",
                         **change)
        assert _listing(crash) == before, change
    r2 = run_pipeline(spark, docs, ents_pdf, crash, run_id="run2")
    assert r2["status"] == "done"


def test_resume_under_another_entity_table_raises(spark, corpus_small,
                                                  tmp_path):
    """The same vectors under other entity ids would link the resumed
    partitions to ids the committed ones never use: the resume raises
    before it writes anything, and the first table then resumes."""
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    renamed = ents_pdf.assign(entity_id="B_" + ents_pdf["entity_id"])
    out = str(tmp_path / "out")
    run_pipeline(spark, _subset(docs, range(5)), ents_pdf, out, run_id="a")
    before = _listing(out)
    with pytest.raises(ValueError, match="entity table"):
        run_pipeline(spark, docs, renamed, out, run_id="b")
    assert _listing(out) == before
    r = run_pipeline(spark, docs, ents_pdf, out, run_id="b")
    assert r["status"] == "done"
    objs = {row["obj"] for row in
            spark.read.parquet(f"{out}/triples").select("obj").collect()}
    assert objs and not any(o.startswith("B_") for o in objs)


def _leftover(out):
    """An uncommitted triples file under ``out``, as a killed run leaves
    it; returns the listing of ``out``."""
    leftover = out / "triples" / "part_id=0" / "part-0.parquet"
    leftover.parent.mkdir(parents=True)
    leftover.write_bytes(b"uncommitted")
    return _listing(str(out))


def test_empty_entity_table_raises_before_writing(spark, corpus_small,
                                                  tmp_path):
    """An empty entity table has nothing to link to; the run raises
    before it drops a killed run's uncommitted rows."""
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf.iloc[:20])
    out = tmp_path / "out"
    before = _leftover(out)
    with pytest.raises(ValueError, match="entity table"):
        run_pipeline(spark, docs, ents_pdf.iloc[:0], str(out), run_id="e")
    assert _listing(str(out)) == before


@pytest.mark.parametrize("bad", [{"n_parts": 0}, {"nlist": 0},
                                 {"nprobe": 0}, {"k": 0},
                                 {"embed_partitions": 0}])
def test_out_of_range_sizes_raise_before_writing(spark, corpus_small,
                                                 tmp_path, bad):
    """n_parts, nlist or nprobe below 1 plans no work, cfg.k below 1
    would commit a 'done' run with no triples, and cfg.embed_partitions
    below 1 fails inside the placement; the run raises before it drops a
    killed run's uncommitted rows or writes any."""
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf.iloc[:20])
    out = tmp_path / "out"
    before = _leftover(out)
    name, = bad
    if name in ("k", "embed_partitions"):
        bad = {"cfg": PipelineConfig(**bad)}
    with pytest.raises(ValueError, match=f"^{name} must be >= 1"):
        run_pipeline(spark, docs, ents_pdf, str(out), run_id="bad", **bad)
    assert _listing(str(out)) == before


def test_uncommitted_rows_do_not_survive_another_n_parts(
        spark, corpus_small, tmp_path, monkeypatch):
    """A run killed inside the commit window stores no config, so a rerun
    may use another n_parts.  The killed run's rows under part ids the
    rerun never writes must not stay in mentions/ or triples/."""
    docs_pdf, ents_pdf = corpus_small
    docs = documents_to_spark(spark, docs_pdf)
    full = str(tmp_path / "full")
    run_pipeline(spark, docs, ents_pdf, full, n_parts=8, run_id="full")
    crash = str(tmp_path / "crash")
    _no_lineage_commit(monkeypatch)
    with pytest.raises(_Killed):
        run_pipeline(spark, docs, ents_pdf, crash, run_id="run1")
    monkeypatch.undo()
    assert read_lineage(spark, crash) is None
    assert glob.glob(os.path.join(crash, "triples", "part_id=15"))
    r2 = run_pipeline(spark, docs, ents_pdf, crash, n_parts=8, run_id="run2")
    assert r2["status"] == "done"
    men = spark.read.parquet(f"{crash}/mentions")
    assert men.count() == spark.read.parquet(f"{full}/mentions").count()
    assert _all_triples(spark.read.parquet(f"{crash}/triples")) == \
        _all_triples(spark.read.parquet(f"{full}/triples"))
