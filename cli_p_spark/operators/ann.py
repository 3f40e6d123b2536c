"""ANN linking: IVF-style bucketed cosine top-k as a DataFrame equi-join.

The reference's approximation core is faiss IndexIVFFlat: spherical k-means
centroids (nlist=100) trained on the stored vectors (build-index.py:80-81,
96), each vector assigned to its argmax-inner-product cell, queries probing
the nprobe=32 nearest cells (query-index.py:30).  This module re-expresses
that as Spark primitives:

- ``train_centroids``   — spherical k-means on a driver-side sample of the
  entity embeddings (the reference trains on the first chunk only,
  build-index.py:94-97: train-once on a sample is its own device, P5).
  NumPy, seeded, deterministic.
- ``add_bucket`` / ``add_probes`` — vectorized pandas UDFs: embedding ->
  argmax cell (index side) / top-nprobe cells (query side).  The cell id
  is a locality-sensitive bucket; ``repartition(bucket)`` gives the same
  locality faiss gets from cell-contiguous storage.
- ``link_ann_join``     — the linking join:

      mentions --explode probe cells--> (mention_id, bucket)
                                           |  equi-join on bucket
      entities --argmax cell---------->  (entity_id, bucket)
               candidates (mention_id, entity_id)
                  |  re-join embeddings by id (ids are narrow; vectors
                  |  move once, not once per probe)
               cosine (zip_with, codegen) -> top-k window -> tau filter

Scale notes (100 TB mentions, big entity side):
- the bucket join is a plain shuffle equi-join -> Catalyst/AQE pick the
  strategy, and spark.sql.adaptive.skewJoin splits hot cells (hub-entity
  skew lands in hot buckets; that is exactly the AQE-skew case of the
  north_rule).
- candidate rows carry only ids until scoring; embeddings are attached by
  one join each side (mention-side join keys reuse the window's
  partitioning, so Spark reuses the exchange).
- measured on fixtures (tests/test_ann_link.py): nlist=100/nprobe=32 ==
  the reference defaults -> P/R ~0.99 vs the exact oracle while scoring
  ~32% of the index; nprobe=nlist degenerates to exact search, mirroring
  query-index.py:30's exhaustive setting.
- the broadcast search is CELL-PRUNED (round 2): per-probed-cell GEMM
  slices with a running top-k merge — peak per-block intermediates are
  [BLOCK, max_cell + k], never [BLOCK, E], so nprobe cuts compute by
  ~nprobe/nlist and a 10^7-entity index costs MBs per task, not 40 GB
  (gated by tests/test_ivf_pruning.py on a 10^6-entity synthetic index).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import NORM_EPS, SEED
from .link import _entity_arrays, cosine_expr
from .topk import topk_per_group


def train_centroids(
    embeddings: np.ndarray, nlist: int = 100, iters: int = 15,
    seed: int = SEED, max_train: int = 100_000,
) -> np.ndarray:
    """Spherical k-means (max-inner-product assignment, mean re-norm).

    Mirrors faiss IVF training (build-index.py:96) but deterministic:
    seeded init, fixed iteration count.  Indexes larger than ``max_train``
    train on a seeded sample — the reference's own train-once device
    (build-index.py:94-97 trains on the first 20k chunk only); centroid
    quality needs a sample, not the population.
    """
    X = np.asarray(embeddings, dtype=np.float64)
    rng = np.random.default_rng(seed)
    if len(X) > max_train:
        X = X[rng.choice(len(X), max_train, replace=False)]
    n = len(X)
    k = min(nlist, n)
    C = X[rng.choice(n, k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > NORM_EPS:
                    C[j] = c / nrm
            else:
                C[j] = X[rng.integers(n)]  # re-seed empty cell
    return C


def train_centroids_distributed(
    entities: "DataFrame", nlist: int = 100, iters: int = 15,
    seed: int = SEED, max_train: int = 100_000,
    embedding_col: str = "embedding",
) -> np.ndarray:
    """Train centroids from an entity DataFrame WITHOUT collecting the
    index to the driver: a seeded executor-side sample (at most
    ~max_train rows) is all that crosses the wire — the 10^7-entity
    driver-collect cliff from SCALE.md closed.  Deterministic for a fixed
    input + seed: the sample is the global top-max_train rows by a
    seeded content hash (layout-independent), and k-means itself is the
    seeded NumPy trainer."""
    from pyspark.sql import functions as F

    # deterministic layout-independent sample: global top-max_train by a
    # content hash (TakeOrdered: per-partition partial top-N, no full
    # shuffle).  sample().limit() would keep whichever rows arrived
    # first — partition-layout-dependent, breaking cross-cluster resume.
    sample = (
        entities.select(F.col(embedding_col).alias("_e"))
        .filter(F.col("_e").isNotNull())
        .withColumn(
            "_r", F.xxhash64(F.lit(seed), F.col("_e").cast("array<string>"))
        )
        .orderBy("_r")
        .limit(max_train)
        .toPandas()
    )
    if sample.empty:
        raise ValueError("train_centroids_distributed: no embeddings")
    X = np.stack(sample["_e"].to_numpy())
    return train_centroids(X, nlist=nlist, iters=iters, seed=seed,
                           max_train=max_train)


def _bc_centroids(spark, centroids: np.ndarray):
    return spark.sparkContext.broadcast(np.ascontiguousarray(centroids.T))


def add_bucket(
    df: DataFrame, centroids: np.ndarray, embedding_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Index side: argmax-centroid cell id (faiss index.add, build-index.py:99)."""
    bc = _bc_centroids(df.sparkSession, centroids)

    @pandas_udf("int")
    def bucket_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        CT = bc.value
        for s in batches:
            m = np.stack(s.to_numpy()).astype(np.float64)
            yield pd.Series(np.argmax(m @ CT, axis=1).astype("int32"),
                            index=s.index)

    return df.withColumn(bucket_col, bucket_udf(embedding_col))


def add_probes(
    df: DataFrame, centroids: np.ndarray, nprobe: int,
    embedding_col: str = "embedding", probes_col: str = "probes",
) -> DataFrame:
    """Query side: top-nprobe cells by centroid inner product — the
    reference's nprobe knob (query-index.py:30,48-54)."""
    bc = _bc_centroids(df.sparkSession, centroids)

    @pandas_udf("array<int>")
    def probes_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        CT = bc.value
        p = min(nprobe, CT.shape[1])
        for s in batches:
            m = np.stack(s.to_numpy()).astype(np.float64)
            sc = m @ CT
            if p < sc.shape[1]:
                part = np.argpartition(-sc, p - 1, axis=1)[:, :p]
            else:
                part = np.tile(np.arange(sc.shape[1]), (len(s), 1))
            yield pd.Series(list(part.astype("int32")), index=s.index)

    return df.withColumn(probes_col, probes_udf(embedding_col))


def link_ivf_broadcast(
    mentions: DataFrame,
    entities_pdf: pd.DataFrame,
    centroids: np.ndarray,
    k: int = 1,
    tau: float = 0.0,
    nprobe: int = 32,
    embedding_col: str = "embedding",
    index_dtype: str = "f32",
) -> DataFrame:
    """IVF search against a broadcast bucketed index — the scale workhorse.

    This is faiss IndexIVFFlat.search (query-index.py:111) re-expressed
    for Spark's execution model: the bucketed entity index (cell ->
    [entity ids, entity matrix]) is a broadcast variable; a mapInPandas
    pass over mentions computes, per Arrow batch, the top-nprobe cells
    (Q @ C.T) and one GEMM per probed cell, merging running top-k.
    ZERO shuffle: 100 TB of mentions stream through executors while only
    the small index moves — the same asymmetry the reference exploits by
    loading the whole faiss index per process (query-index.py:29).

    nprobe >= nlist degenerates to exact search (reference parity).
    Deterministic: scores float64, ties broken by entity_id ascending.
    """
    spark = mentions.sparkSession
    bc = spark.sparkContext.broadcast(
        build_ivf_broadcast_value(entities_pdf, centroids, dtype=index_dtype)
    )

    keep_fields = [f for f in mentions.schema.fields if f.name != embedding_col]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep_fields)
        + ", entity_id string, score double, rank int"
    )
    keep_names = [f.name for f in keep_fields]
    kk, p = k, nprobe

    def search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = _IvfIndex.from_broadcast(bc.value)
        for pdf in batches:
            pdf = pdf[pdf[embedding_col].notna()]
            if pdf.empty:
                continue
            Q = np.stack(pdf[embedding_col].to_numpy())
            cand, sc64 = idx.search(Q, kk, p)
            yield from _emit_topk_cand(
                pdf, keep_names, cand, sc64, idx.eids, kk, tau
            )

    return mentions.mapInPandas(search, schema=out_schema)


class _IvfIndex:
    """Executor-side IVF search state (from one broadcast tuple).

    Storage is CELL-GROUPED (CSR layout: ``gmat`` rows sorted by IVF cell,
    ``cell_ptr`` offsets) — the same cell-contiguous layout faiss
    IndexIVFFlat keeps its inverted lists in (build-index.py:80-81).

    search(): when nprobe < nlist, ONE sgemm per probed cell against that
    cell's slice only, merged into a per-row running top-kc — peak
    intermediate is [block, max_cell + kc], NOT [block, E]; nprobe
    actually prunes compute (the reference's knob, query-index.py:30).
    When nprobe >= nlist (exhaustive) a single dense sgemm is cheaper and
    bit-equivalent.  Either way the kc = k+MARGIN f32 preselect candidates
    are rescored in f64 for an exact, partition-independent final ranking
    (the margin absorbs f32 rounding; entity embeddings are float32 so the
    upcast rescore is exact)."""

    MARGIN = 3

    # rows per kernel block: bounds every intermediate at
    # [BLOCK, max_cell + kc] regardless of Arrow batch size.
    # (A masked-dense alternative for nprobe < nlist at small E was
    # prototyped and A/B-measured in round 3: in-situ the two strategies
    # are within noise at E=2000 and per-cell wins 2.5x at E=16k, so the
    # single per-cell path stays — it is never worse and keeps the
    # [block, max_cell + kc] memory bound at every scale.)
    BLOCK = 1024

    def __init__(self, eids, gmat, perm, inv_perm, cell_ptr, CT):
        self.eids = eids
        self.gmat32 = gmat.astype(np.float32, copy=False)
        self.perm = perm          # grouped position -> original entity idx
        self.inv_perm = inv_perm  # original entity idx -> grouped position
        self.cell_ptr = cell_ptr  # [nlist+1] offsets into gmat
        self.CT = CT              # [dim, nlist] float64
        self.stats = {"max_gemm_cols": 0}

    _cached: "_IvfIndex | None" = None

    @classmethod
    def from_broadcast(cls, value):
        """Broadcast values are deserialized once per executor process and
        memoized by Spark; cache the wrapper too so a possible f16->f32
        upcast happens once per process, not once per task.  Single-slot,
        released BEFORE the replacement is built: a long-lived worker
        switching between two multi-GB indexes holds at most one wrapper
        (plus whatever Spark's own broadcast cache pins)."""
        inst = cls._cached
        if inst is not None and inst._payload is value:
            return inst
        cls._cached = inst = None  # drop the old wrapper before building
        inst = cls(*value)
        inst._payload = value
        cls._cached = inst
        return inst

    def search(self, Q: np.ndarray, k: int, nprobe: int):
        if len(Q) <= self.BLOCK:
            return self._search_block(Q, k, nprobe)
        outs = [
            self._search_block(Q[i: i + self.BLOCK], k, nprobe)
            for i in range(0, len(Q), self.BLOCK)
        ]
        return (
            np.concatenate([c for c, _ in outs], axis=0),
            np.concatenate([s for _, s in outs], axis=0),
        )

    def _track(self, cols: int) -> None:
        if cols > self.stats["max_gemm_cols"]:
            self.stats["max_gemm_cols"] = cols

    @staticmethod
    def _group_probes(probe, n, pp):
        """Group (row, probed-cell) pairs by cell: (fr, fc, cells,
        bounds) with rows fr[bounds[ci]:bounds[ci+1]] probing cells[ci]."""
        flat_rows = np.repeat(np.arange(n), pp)
        flat_cells = probe.ravel()
        order = np.argsort(flat_cells, kind="stable")
        fr = flat_rows[order]
        fc = flat_cells[order]
        cells, starts = np.unique(fc, return_index=True)
        bounds = np.append(starts, len(fc))
        return fr, fc, cells, bounds

    def _topk_grouped(self, scores32, kc):
        """top-kc per row of a grouped-order [n, E] f32 score matrix
        under the total order (-score, ORIGINAL entity idx asc); masked
        entries carry -inf and can only fill trailing slots.  Returns
        (sel original indices, best_sc f32)."""
        n, E = scores32.shape
        if kc < E:
            part = np.argpartition(-scores32, kc - 1, axis=1)[:, :kc]
            # boundary ties: argpartition keeps an ARBITRARY subset of
            # candidates tied at the kc-th f32 score, which can drop
            # the min-entity-id member (mass-duplicate corpora) and
            # break the (-score, entity_id asc) determinism contract.
            # Repair affected rows only: keep everything above the
            # boundary, fill remaining slots with the tied candidates
            # of smallest ORIGINAL entity index.
            sel_sc = np.take_along_axis(scores32, part, axis=1)
            b = sel_sc.min(axis=1)
            n_tied_all = (scores32 == b[:, None]).sum(axis=1)
            n_tied_sel = (sel_sc == b[:, None]).sum(axis=1)
            for i in np.where(n_tied_all > n_tied_sel)[0]:
                above = np.where(scores32[i] > b[i])[0]
                tied = np.where(scores32[i] == b[i])[0]
                tied = tied[np.argsort(self.perm[tied])]
                part[i] = np.concatenate([above, tied[: kc - len(above)]])
        else:
            part = np.tile(np.arange(E), (n, 1))
        sel = self.perm[part]
        best_sc = np.take_along_axis(scores32, part, axis=1)
        return sel, best_sc

    def _search_block(self, Q: np.ndarray, k: int, nprobe: int):
        n = len(Q)
        E = self.gmat32.shape[0]
        if n == 0 or E == 0:
            return (
                np.zeros((n, 0), dtype=np.int64),
                np.zeros((n, 0), dtype=np.float64),
            )
        n_cells = self.CT.shape[1]
        pp = min(nprobe, n_cells)
        kc = min(k + self.MARGIN, E)
        Q64 = Q.astype(np.float64, copy=False)
        Q32 = Q.astype(np.float32, copy=False)

        if pp >= n_cells:
            # exhaustive probing: a single dense sgemm beats nlist slice
            # GEMMs and is result-identical (no cell is excluded)
            scores32 = Q32 @ self.gmat32.T  # [n, E] (grouped order)
            self._track(E)
            sel, best_sc = self._topk_grouped(scores32, kc)
        else:
            # cell-pruned search: rows grouped by probed cell, one GEMM
            # per (cell x probing rows), running top-kc merge under the
            # total order (-f32 score, entity idx asc)
            cs = Q64 @ self.CT  # [n, nlist] f64 — bitwise == add_probes
            probe = np.argpartition(-cs, pp - 1, axis=1)[:, :pp]
            fr, fc, cells, bounds = self._group_probes(probe, n, pp)
            best_sc = np.full((n, kc), -np.inf, dtype=np.float32)
            sel = np.zeros((n, kc), dtype=np.int64)
            ptr = self.cell_ptr
            for ci, c in enumerate(cells):
                s, e = int(ptr[c]), int(ptr[c + 1])
                m = e - s
                if m == 0:
                    continue
                rows = fr[bounds[ci]:bounds[ci + 1]]
                S = Q32[rows] @ self.gmat32[s:e].T  # [r, cell_size]
                self._track(kc + m)
                cat_sc = np.concatenate([best_sc[rows], S], axis=1)
                cat_ix = np.concatenate(
                    [sel[rows],
                     np.broadcast_to(self.perm[s:e], (len(rows), m))],
                    axis=1,
                )
                keep = np.lexsort((cat_ix, -cat_sc), axis=1)[:, :kc]
                best_sc[rows] = np.take_along_axis(cat_sc, keep, axis=1)
                sel[rows] = np.take_along_axis(cat_ix, keep, axis=1)

        # f64 rescore of the candidate set only (exact ranking; entity
        # vectors are float32, so the upcast loses nothing)
        Ecand = self.gmat32[self.inv_perm[sel]].astype(np.float64)
        sc64 = np.einsum("nd,ncd->nc", Q64, Ecand)
        sc64[~np.isfinite(best_sc)] = -np.inf
        return sel, sc64


def save_index(
    spark, base_dir: str, entities, centroids: np.ndarray
) -> None:
    """Persist the trained index as tables (the reference's
    faiss.write_index, build-index.py:109): centroids + cell-assigned
    entities, partitioned by cell for locality.

    ``entities`` is a Spark DataFrame(entity_id, embedding, ...): cell
    assignment and the partitioned write run DISTRIBUTED (the round-1
    driver row-loop is gone — a 10^7-entity index writes without ever
    materializing on the driver).  A pandas frame is accepted for
    convenience and converted first.  Centroids are nlist rows — driver-
    side by construction."""
    from ..plans.tables import TableStore

    if isinstance(entities, pd.DataFrame):
        # Python-native rows: an Arrow-less session's row verifier rejects
        # numpy.float32 cells, so never feed numpy arrays to createDataFrame.
        entities = spark.createDataFrame(
            [
                (str(i), [float(x) for x in v])
                for i, v in zip(entities["entity_id"], entities["embedding"])
            ],
            "entity_id string, embedding array<float>",
        )
    store = TableStore(spark, base_dir)
    cent_rows = [
        (i, centroids[i].astype(float).tolist())
        for i in range(len(centroids))
    ]
    store.overwrite(
        spark.createDataFrame(cent_rows, "cell int, centroid array<double>"),
        "centroids",
    )
    bucketed = add_bucket(
        entities.select(
            F.col("entity_id").cast("string").alias("entity_id"),
            F.col("embedding").cast("array<float>").alias("embedding"),
        ),
        centroids,
        bucket_col="cell",
    )
    store.append(bucketed, "entity_index", partition_by=("cell",))


def load_index(spark, base_dir: str) -> tuple[pd.DataFrame, np.ndarray]:
    """Reload (entities_pdf, centroids) (faiss.read_index,
    query-index.py:29) for the broadcast search regime (index fits one
    machine — the reference's own, query-index.py:29).  Order-
    insensitive: search sorts by entity_id.  For indexes beyond driver
    memory use load_index_df + link_ann_join instead."""
    ents_df, centroids = load_index_df(spark, base_dir)
    return ents_df.toPandas(), centroids


def load_index_df(spark, base_dir: str) -> tuple[DataFrame, np.ndarray]:
    """(entity DataFrame(entity_id, embedding), centroids) — the scale
    path: the entity side stays distributed for the bucket equi-join
    strategy (link_ann_join).  The entity set is the BASE index plus any
    incremental delta batches (index_append): base ∪ delta is the live
    index, exactly the base+delta read every delta-architecture store
    (Iceberg merge-on-read, LSM) serves before compaction."""
    from ..plans.tables import TableStore

    store = TableStore(spark, base_dir)
    cents = store.read("centroids").toPandas().sort_values("cell")
    centroids = np.stack(cents["centroid"].to_numpy()).astype(np.float64)
    ents = store.read("entity_index").select("entity_id", "embedding")
    delta = store.read("entity_index_delta")
    if delta is not None:
        ents = ents.unionByName(delta.select("entity_id", "embedding"))
    return ents, centroids


def index_append(
    spark,
    base_dir: str,
    new_entities: DataFrame,
    batch_id: int,
    retrain_factor: float = 4.0,
) -> dict:
    """Incremental index maintenance: assign NEW vectors to the EXISTING
    centroids and publish them as an idempotent delta batch — without
    retraining or rewriting the base index.

    The reference's ingest is incremental (build-index.py:36-44 re-embeds
    only new files via the LMDB skip-list) but its INDEX build is
    monolithic: every run rescans and retrains the whole IVF
    (build-index.py:68-109).  At 10^7+ entities a daily full rebuild is
    the operational cliff; appending against FROZEN centroids keeps
    search results IDENTICAL to a full rebuild at nprobe=nlist (cell
    membership only affects pruning, and the pruned-search recall drift
    is bounded by the staleness gate below).

    Mechanics (all distributed, zero driver materialization):
      - cell assignment: add_bucket argmax against the stored centroids
        (one Arrow-batched pandas UDF pass over the new batch only);
      - publish: dynamic-partition OVERWRITE of `entity_index_delta`
        partitioned by (batch_id, cell) — re-running a crashed/replayed
        batch REPLACES its own partitions instead of appending
        duplicates (TableStore.overwrite_partitions semantics; maps to
        Iceberg overwritePartitions under a catalog flip).  The base
        `entity_index` written by save_index is never touched.

    Staleness gate: returns drift diagnostics computed from per-cell
    counts over base ∪ delta.  `needs_retrain` is True when the largest
    cell exceeds ``retrain_factor`` x the balanced size (n/nlist) — the
    point where frozen centroids stop reflecting the data distribution,
    nprobe recall degrades, and a hot cell turns the cell-pruned search
    quadratic-ish.  The caller (an orchestrator) schedules the full
    retrain + compaction; day-to-day appends stay O(batch).
    """
    from pyspark.sql import functions as F

    from ..plans.tables import TableStore

    store = TableStore(spark, base_dir)
    cents = store.read("centroids").toPandas().sort_values("cell")
    centroids = np.stack(cents["centroid"].to_numpy()).astype(np.float64)
    bucketed = add_bucket(
        new_entities.select(
            F.col("entity_id").cast("string").alias("entity_id"),
            F.col("embedding").cast("array<float>").alias("embedding"),
        ),
        centroids,
        bucket_col="cell",
    ).withColumn("batch_id", F.lit(int(batch_id)))
    store.overwrite_partitions(
        bucketed.select("entity_id", "embedding", "batch_id", "cell"),
        "entity_index_delta",
        ("batch_id", "cell"),
    )
    # drift from STORED cell columns (base: the partition column the
    # cell-partitioned save_index write left behind; delta: the column
    # just written) — a count-by-partition metadata-ish scan, not an
    # O(n) re-bucketing UDF pass over the whole live index
    base_cells = store.read("entity_index").select(
        F.col("cell").cast("int").alias("cell")
    )
    delta_cells = store.read("entity_index_delta").select(
        F.col("cell").cast("int").alias("cell")
    )
    cell_counts = (
        base_cells.unionByName(delta_cells)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("total"),
            F.max("n").alias("max_cell"),
        )
        .collect()[0]
    )
    n_total = cell_counts["total"]
    balanced = max(1.0, n_total / len(centroids))
    drift = cell_counts["max_cell"] / balanced
    return {
        "n_total": int(n_total),
        "max_cell": int(cell_counts["max_cell"]),
        "balanced_cell": round(balanced, 1),
        "drift": round(drift, 3),
        "needs_retrain": bool(drift > retrain_factor),
    }


def build_ivf_broadcast_value(entities_pdf: pd.DataFrame,
                              centroids: np.ndarray,
                              dtype: str = "f32"):
    """The broadcast payload for _IvfIndex (shared by linking operators):
    cell-grouped CSR entity matrix + permutations + cell offsets.

    dtype='f32' (default) stores the entity matrix single-precision —
    lossless for array<float> embeddings (everything this engine encodes
    or reads from parquet) and HALF the round-1 f64 wire size (10^7 x 512
    = 20 GB f64 -> 10 GB).  dtype='f16' halves it again for the
    broadcast-budget cliff; search upcasts once per executor, candidate
    rescoring then sees f16-rounded entity values (~1e-3 relative score
    shift; P/R gated in tests — exact score-parity paths use f32)."""
    eids, emat = _entity_arrays(entities_pdf)
    n_cells = len(centroids)
    assign = np.argmax(emat @ centroids.T, axis=1).astype(np.int32)
    perm = np.argsort(assign, kind="stable").astype(np.int64)
    inv_perm = np.argsort(perm).astype(np.int64)
    counts = np.bincount(assign, minlength=n_cells)
    cell_ptr = np.zeros(n_cells + 1, dtype=np.int64)
    np.cumsum(counts, out=cell_ptr[1:])
    store = np.float16 if dtype == "f16" else np.float32
    gmat = np.ascontiguousarray(emat[perm].astype(store))
    return (
        eids,
        gmat,
        perm,
        inv_perm,
        cell_ptr,
        np.ascontiguousarray(centroids.T),
    )


def _emit_topk_cand(pdf, keep_names, cand, scores, eids, k, tau):
    """Top-k row assembly over a per-row candidate set: sort candidates by
    (-f64 score, entity index asc), keep k, tau filter, rank column.
    Entity ids pre-sorted ascending so the index IS the entity_id
    tie-break."""
    n, ncand = scores.shape
    order = np.lexsort((cand, -scores), axis=1)
    cand = np.take_along_axis(cand, order, axis=1)[:, :k]
    sc = np.take_along_axis(scores, order, axis=1)[:, :k]
    ranks = np.tile(np.arange(1, cand.shape[1] + 1), (n, 1))
    mask = (sc >= tau) & np.isfinite(sc)
    flat = mask.ravel()
    row_idx = np.repeat(np.arange(n), cand.shape[1])[flat]
    if len(row_idx) == 0:
        return
    out = pdf[keep_names].reset_index(drop=True).iloc[row_idx]
    out = out.reset_index(drop=True)
    out["entity_id"] = eids[cand.ravel()[flat]]
    out["score"] = sc.ravel()[flat]
    out["rank"] = ranks.ravel()[flat].astype("int32")
    yield out


def link_ann_join(
    mentions: DataFrame,
    entities: DataFrame,
    centroids: np.ndarray,
    k: int = 1,
    tau: float = 0.0,
    nprobe: int = 32,
    mention_keys: tuple[str, ...] = ("doc_id", "span_idx"),
    carry_cols: tuple[str, ...] = ("kind",),
) -> DataFrame:
    """Bucketed ANN top-k join (replaces index.search, query-index.py:111).

    mentions: mention_keys + carry_cols + embedding (non-null).
    entities: entity_id + embedding.
    Returns mention_keys + carry_cols + (entity_id, score, rank), score>=tau.
    """
    keys = list(mention_keys)
    carry = list(carry_cols)
    ment = mentions.filter(F.col("embedding").isNotNull())

    # index side: one bucket per entity (IVF cell membership)
    ent_bucketed = add_bucket(
        entities.select("entity_id", "embedding"), centroids
    )

    if k == 1:
        # Rank-1 fast path (round 7) — the production linking case.
        # Embeddings ride the JOIN INPUTS (mention vectors duplicated
        # only nprobe times on the small query side; entity vectors once
        # each, exactly the bytes the e_emb attach join used to shuffle)
        # and the scored candidates NEVER shuffle: the per-mention
        # argmin is a map-side partially-aggregated min(struct(-score,
        # entity_id)) — the same (score desc, entity_id asc) total
        # order the rank window imposed (Double.compare on the negated
        # score inverts the order exactly, including the -0.0 < 0.0
        # edge), with none of the candidate re-shuffles or the
        # per-partition sort.  Measured on the bench's no-broadcast
        # regime (10^6 entities, 2*10^4 mentions, nprobe=4): 33.4 s /
        # 929 MB shuffled -> 9.8 s / 317 MB, identical links.
        probes = add_probes(
            ment.select(*keys, *carry, "embedding"), centroids, nprobe
        ).select(
            *keys, *carry,
            F.col("embedding").alias("m_emb"),
            F.explode("probes").alias("bucket"),
        )
        ent_emb = ent_bucketed.select(
            "bucket", "entity_id", F.col("embedding").alias("e_emb")
        )
        scored = probes.join(ent_emb, "bucket").withColumn(
            "score", cosine_expr("m_emb", "e_emb")
        )
        best = scored.groupBy(*keys, *carry).agg(
            F.min(
                F.struct(
                    (-F.col("score")).alias("_ns"), F.col("entity_id")
                )
            ).alias("_b")
        )
        top = best.select(
            *keys, *carry,
            F.col("_b.entity_id").alias("entity_id"),
            (-F.col("_b._ns")).alias("score"),
            F.lit(1).cast("int").alias("rank"),
        )
        return top.filter(F.col("score") >= tau)

    ent_ids = ent_bucketed.select("entity_id", "bucket")

    # query side: explode probe cells, ids only — vectors do not ride along
    probes = (
        add_probes(ment.select(*keys, "embedding"), centroids, nprobe)
        .select(*keys, F.explode("probes").alias("bucket"))
    )

    candidates = probes.join(ent_ids, "bucket").select(*keys, "entity_id")

    # attach embeddings once per candidate (not once per probe)
    m_emb = ment.select(*keys, *carry_cols,
                        F.col("embedding").alias("m_emb"))
    e_emb = entities.select("entity_id", F.col("embedding").alias("e_emb"))
    scored = (
        candidates.join(m_emb, keys)
        .join(e_emb, "entity_id")
        .withColumn("score", cosine_expr("m_emb", "e_emb"))
        .drop("m_emb", "e_emb")
    )
    top = topk_per_group(
        scored, group_cols=keys, order_col="score", k=k,
        tiebreak_cols=["entity_id"],
    ).select(*keys, *carry, "entity_id", "score", "rank")
    return top.filter(F.col("score") >= tau)
