"""Measurement helpers: Spark status-store readings scoped to a job group,
Python-worker RSS sampled from /proc, spans with self-time arithmetic,
spans put around a program's own function calls, and shutdown of every
process a Spark session started.

The pure parts (``summarize_stages``, ``self_times``, ``layer_self_times``)
take plain values so the tests can check the arithmetic without Spark.
"""

from __future__ import annotations

import functools
import inspect
import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1e6  # every *_mb metric is 10^6 bytes


@dataclass(frozen=True)
class StageRecord:
    """One stage attempt as read from the status store."""

    stage_id: int
    attempt: int
    status: str
    num_tasks: int
    stage_ms: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    records_in: int
    records_out: int
    task_ms_median: float
    task_ms_max: float


def summarize_stages(records: list[StageRecord], n_jobs: int) -> dict:
    """Sum the completed stage attempts of one job group.

    Each (stage, attempt) counts once even if it was read twice; stages that
    did not complete (skipped because a shuffle was reused, or failed) add
    nothing.  ``task_skew`` is max / median task time of the slowest stage
    (by stage wall), 1.0 when that stage ran a single task, 0.0 when the
    group ran no stage."""
    done = {}
    for r in records:
        if r.status == "COMPLETE":
            done[(r.stage_id, r.attempt)] = r
    rows = list(done.values())
    slowest = max(rows, key=lambda r: (r.stage_ms, r.stage_id), default=None)
    if slowest is None:
        skew = 0.0
    elif slowest.num_tasks < 2 or slowest.task_ms_median <= 0:
        skew = 1.0
    else:
        skew = slowest.task_ms_max / slowest.task_ms_median
    return {
        "jobs": n_jobs,
        "stages": len(rows),
        "tasks": sum(r.num_tasks for r in rows),
        "shuffle_read_mb": sum(r.shuffle_read_bytes for r in rows) / MB,
        "shuffle_write_mb": sum(r.shuffle_write_bytes for r in rows) / MB,
        "spill_mb": sum(r.spill_bytes for r in rows) / MB,
        "records_in": sum(r.records_in for r in rows),
        "records_out": sum(r.records_out for r in rows),
        "task_skew": skew,
    }


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def read_group_stages(spark, group: str) -> tuple[int, list[StageRecord]]:
    """(number of jobs, stage records) of every job run under ``group``.

    Reads only the stages of that group's jobs (unlike a whole-app stage
    list), through the JVM ``AppStatusStore``.  The store is filled by an
    asynchronous listener, and an action returns before its job-end event
    is even posted, so the listener bus is drained until every job of the
    group has ended: otherwise the group's last stage may still read as
    active and be left out."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = tracker.getJobIdsForGroup(group)
        infos = [i for i in map(tracker.getJobInfo, job_ids) if i is not None]
        if all(i.status != "RUNNING" for i in infos) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    stage_ids = set()
    for info in infos:
        stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    no_q = gw.new_array(gw.jvm.double, 0)
    out = []
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, gw.jvm.java.util.ArrayList(),
                                   False, no_q)
        it = attempts.iterator()
        while it.hasNext():
            s = it.next()
            sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
            summary = _opt(store.taskSummary(sid, s.attemptId(), quantiles))
            med = mx = 0.0
            if summary is not None:
                dur = summary.duration()
                med, mx = float(dur.apply(0)), float(dur.apply(1))
            out.append(StageRecord(
                stage_id=int(sid),
                attempt=int(s.attemptId()),
                status=str(s.status().toString()),
                num_tasks=int(s.numTasks()),
                stage_ms=float(done.getTime() - sub.getTime())
                if sub is not None and done is not None else 0.0,
                shuffle_read_bytes=int(s.shuffleReadBytes()),
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                spill_bytes=int(s.diskBytesSpilled()),
                records_in=int(s.inputRecords()) + int(s.shuffleReadRecords()),
                records_out=int(s.outputRecords())
                + int(s.shuffleWriteRecords()),
                task_ms_median=med,
                task_ms_max=mx,
            ))
    return len(job_ids), out


class JobGroups:
    """Hands out unique job-group ids and runs code under one of them."""

    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.prefix = prefix
        self._n = 0

    def new(self, label: str) -> str:
        self._n += 1
        return f"{self.prefix}-{self._n}-{label}"

    def set(self, group: str | None, label: str = "") -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, label)

    def stats(self, group: str) -> dict:
        n_jobs, records = read_group_stages(self.spark, group)
        return summarize_stages(records, n_jobs)


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str  # the layer, by module name (e.g. "operators.ann")
    label: str  # which call into the layer (e.g. "link")
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    stats: dict = field(default_factory=dict)  # summarize_stages of group
    counts: dict = field(default_factory=dict)  # rows out etc., set inside

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the durations of its direct children."""
    out = [s.duration for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.duration
    return out


def layer_self_times(spans: list[Span]) -> dict[tuple[str, str], float]:
    """Self time summed per (layer, label)."""
    out: dict[tuple[str, str], float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[(s.name, s.label)] = out.get((s.name, s.label), 0.0) + t
    return out


class Tracer:
    """Records a span around each call into a layer.  Every span runs its
    jobs under a job group of its own, so its Spark numbers are its own.
    They are read by ``read_stats`` once the traced code has finished, so
    reading them costs no span any time."""

    def __init__(self, groups: JobGroups):
        self.groups = groups
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, label: str = ""):
        parent = self._stack[-1] if self._stack else None
        group = self.groups.new(f"{name}.{label}" if label else name)
        s = Span(name, label, time.perf_counter(), parent=parent, group=group)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.groups.set(group, s.name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            up = self.spans[self._stack[-1]] if self._stack else None
            self.groups.set(up.group if up else None, up.name if up else "")

    def read_stats(self) -> None:
        """Fill every span's ``stats`` from its job group's stages."""
        for s in self.spans:
            s.stats = self.groups.stats(s.group)

    def find(self, name: str, label: str = "") -> list[Span]:
        return [s for s in self.spans if s.name == name and s.label == label]


@contextmanager
def spans_around(tracer: Tracer, targets):
    """While open, every call to one of ``targets`` runs in a span of its
    own.

    ``targets`` are ``(owner, attribute, layer)``: the module or class that
    holds the function, the function's name there, and the layer the span
    is recorded under.  The program must look the function up on ``owner``
    at call time.  A span's label is the function's name, followed by
    ``:table`` when the call has a ``table`` argument.  A DataFrame result
    is persisted and counted inside the span, with the count in
    ``counts["rows"]``, so the work it stands for runs in this span rather
    than in whichever span next reads it.  On exit the functions are
    restored and the persisted frames released."""
    from pyspark.sql import DataFrame

    held: list = []
    saved: list = []

    def wrap(fn, layer: str, name: str):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            table = sig.bind(*args, **kwargs).arguments.get("table")
            with tracer.span(layer, f"{name}:{table}" if table else name) \
                    as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    held.append(out)
                    sp.counts["rows"] = out.count()
            return out

        return wrapper

    try:
        for owner, attr, layer in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, wrap(fn, layer, attr))
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)
        for df in held:
            df.unpersist()


# --------------------------------------------------------------------------
# processes


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name sits in parentheses and may contain spaces
        lpar, rpar = stat.index("("), stat.rindex(")")
        fields = stat[rpar + 2:].split()
        if fields[0] == "Z":
            continue
        table[int(d)] = (int(fields[1]), stat[lpar + 1:rpar])
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def python_worker_rss(jvm_pid: int) -> int:
    """Summed RSS of the Python processes the JVM started (the pyspark
    daemon and its forked workers); the JVM itself is excluded."""
    table = _proc_table()
    return sum(
        _rss_bytes(p) for p in descendants(jvm_pid, table)
        if table[p][1].startswith("python")
    )


class RssSampler:
    """Peak of ``python_worker_rss`` sampled every ``interval`` seconds on a
    background thread between ``__enter__`` and ``__exit__``."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, python_worker_rss(self.jvm_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, python_worker_rss(self.jvm_pid))


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        table = _proc_table()
        alive = [p for p in alive if p in table]
    return alive


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait until the JVM and
    every process under it (the Python daemon and workers) have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        for pid in _wait_gone(started, 30):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_gone(started, 10)


def median(values) -> float:
    return float(statistics.median(values))
