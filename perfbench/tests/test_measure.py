"""Span self-time arithmetic, the status-store summary and reading, and
the spans put around a program's function calls."""

import types

import pytest

from perfbench.harness import start_session
from perfbench.measure import JobGroups, Span, StageRecord, Tracer, \
    layer_self_times, self_times, shutdown_spark, spans_around, \
    summarize_stages


def _span(name, start, end, parent=None, label=""):
    return Span(name, label, start, end, parent=parent)


def test_self_time_subtracts_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 4.0, 9.0, parent=0),
        _span("b.child", 5.0, 7.0, parent=2),
    ]
    assert self_times(spans) == pytest.approx([2.0, 3.0, 3.0, 2.0])
    # self times of a tree add up to the root's duration
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_grandchildren_do_not_reduce_the_root():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 0.0, 5.0, parent=0),
        _span("a.1", 0.0, 5.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([5.0, 0.0, 5.0])


def test_layer_self_times_sum_per_layer_and_label():
    spans = [
        _span("root", 0.0, 10.0),
        _span("plans.lineage", 0.0, 1.0, parent=0, label="x"),
        _span("operators.ann", 1.0, 4.0, parent=0, label="link"),
        _span("plans.lineage", 4.0, 6.5, parent=0, label="x"),
    ]
    got = layer_self_times(spans)
    assert got[("plans.lineage", "x")] == pytest.approx(3.5)
    assert got[("operators.ann", "link")] == pytest.approx(3.0)
    assert got[("root", "")] == pytest.approx(3.5)


def _stage(sid, attempt=0, status="COMPLETE", tasks=4, stage_ms=100.0,
           med=10.0, mx=20.0, **kw):
    vals = dict(shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                records_in=0, records_out=0)
    vals.update(kw)
    return StageRecord(sid, attempt, status, tasks, stage_ms, **vals,
                       task_ms_median=med, task_ms_max=mx)


def test_summary_sums_completed_attempts_once():
    recs = [
        _stage(1, shuffle_write_bytes=2_000_000, records_out=10),
        _stage(1, shuffle_write_bytes=2_000_000, records_out=10),  # re-read
        _stage(2, shuffle_read_bytes=2_000_000, spill_bytes=500_000,
               records_in=10, tasks=8),
        _stage(3, status="SKIPPED", shuffle_write_bytes=9_000_000, tasks=4),
        _stage(2, attempt=1, status="FAILED", shuffle_read_bytes=1),
    ]
    got = summarize_stages(recs, n_jobs=2)
    assert got == {
        "jobs": 2, "stages": 2, "tasks": 12,
        "shuffle_read_mb": 2.0, "shuffle_write_mb": 2.0, "spill_mb": 0.5,
        "records_in": 10, "records_out": 10, "task_skew": 2.0,
    }


def test_skew_comes_from_the_slowest_stage():
    recs = [_stage(1, stage_ms=50.0, med=1.0, mx=9.0),
            _stage(2, stage_ms=500.0, med=10.0, mx=30.0)]
    assert summarize_stages(recs, 1)["task_skew"] == pytest.approx(3.0)


def test_skew_of_single_task_and_empty_groups():
    assert summarize_stages([_stage(1, tasks=1)], 1)["task_skew"] == 1.0
    empty = summarize_stages([], 0)
    assert empty["task_skew"] == 0.0 and empty["stages"] == 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    spark = start_session(2, str(tmp_path_factory.mktemp("spark")))
    yield spark
    shutdown_spark(spark)


def test_group_stats_count_the_final_stage(spark):
    from pyspark.sql import functions as F

    groups = JobGroups(spark, "t")
    for i in range(20):
        group = groups.new(f"agg{i}")
        groups.set(group, "agg")
        spark.range(0, 1_000, numPartitions=4) \
            .groupBy((F.col("id") % 7).alias("k")).count().collect()
        groups.set(None)
        got = groups.stats(group)
        # only the final stage reads the shuffle, and it reads all of it
        assert got["shuffle_write_mb"] > 0
        assert got["shuffle_read_mb"] == pytest.approx(
            got["shuffle_write_mb"])


class _Store:
    def __init__(self, spark):
        self.spark = spark

    def read(self, table):
        return self.spark.range(3 if table == "a" else 5)


def test_spans_around_wraps_and_restores(spark):
    mod = types.SimpleNamespace(scale=lambda x: 2 * x)
    orig_scale, orig_read = mod.scale, _Store.read
    tracer = Tracer(JobGroups(spark, "t"))
    with tracer.span("root"):
        with spans_around(tracer, [(mod, "scale", "layer.m"),
                                   (_Store, "read", "layer.s")]):
            assert mod.scale(4) == 8
            df = _Store(spark).read("a")
            assert df.is_cached
            _Store(spark).read(table="b")
    assert mod.scale is orig_scale and _Store.read is orig_read
    assert not df.is_cached
    assert [(s.name, s.label, s.parent) for s in tracer.spans] == [
        ("root", "", None), ("layer.m", "scale", 0),
        ("layer.s", "read:a", 0), ("layer.s", "read:b", 0)]
    assert tracer.spans[2].counts == {"rows": 3}
    assert tracer.spans[3].counts == {"rows": 5}
    tracer.read_stats()
    assert tracer.spans[2].stats["jobs"] >= 1
    assert tracer.spans[1].stats["jobs"] == 0
