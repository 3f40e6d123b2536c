"""Banded random-hyperplane LSH for high-similarity embedding pairs.

Candidate-generation complexity is the whole game for canonicalization at
10^12 mentions: the IVF probe structure (operators/ann.py) prunes a
top-k SEARCH well, but for ALL-PAIRS-above-tau it only cuts the quadratic
candidate space by ~nlist/nprobe (3x at the reference's defaults) — still
O(n^2).  Sign-LSH banding is the right tool once tau is high: with
bits_per_band=16, two random vectors (cos~0) collide in a band with
p = 2^-16, so a 16-band scheme generates ~n^2 * 2.4e-4 candidates, while
a cos=0.95 pair collides with p ~ 0.96 and an exact duplicate always
collides.  (Charikar'02 SimHash family; the banding trick is the classic
MinHash-LSH layout, cf. operators/dedup.py for the token version.)

Pipeline shape:

    embeddings -> band: sign bits (seeded hyperplanes) packed into one
                  (id, [group], key) row per band  (mapInPandas)
               -> place: repartition(group, key) + sort by (group, key, id)
                  [the only candidate exchange]
               -> pair: walk the sorted runs, one run = one bucket; pairs
                  i<j up to max_bucket, the star above  (mapInPandas)
               -> dedup pairs -> exact cosine verify (zip_with, JVM)
               -> pairs >= tau

Nothing is cached: each stage is evaluated once, and a bucket's size is
its run length, so no size aggregate or join exists to feed.

The place -> pair -> dedup steps are ``bucket_pairs``, the engine's one
bucket -> candidate-pairs kernel.  Its callers: ``hyperplane_lsh_pairs``
here, MinHash LSH (``dedup.lsh_pairs_from_signatures`` and the new×new
half of ``dedup.incremental_lsh_pairs``) and deletion-variant name
blocking (``fuzzy.fuzzy_name_pairs``).

Determinism: hyperplanes from the config seed; candidate set is a pure
function of the embeddings.  Recall at tau: 1-(1-p_band)^bands with
p_band = (1 - theta/pi)^bits — tune bands upward for lower tau (at
tau<0.8 prefer the IVF search path; LSH recall decays fast below that).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..config import SEED
from ..worker import drop_zip_finders
from .link import cosine_expr


class _CacheHandle:
    """unpersist() handle bundling a plan's persisted intermediates."""

    def __init__(self, *dfs):
        self._dfs = dfs

    def unpersist(self, blocking: bool = False):
        for d in self._dfs:
            d.unpersist(blocking)


# band-count ceiling for lsh_params_for_tau
MAX_BANDS = 64


def lsh_params_for_tau(
    tau: float, target_recall: float = 0.99
) -> tuple[int, int]:
    """(bits_per_band, bands) sized for a recall target at ``tau``.

    Sign-LSH per-plane collision probability for a pair at cosine tau is
    p1 = 1 - acos(tau)/pi (Charikar'02); a band of b bits collides with
    p1^b and recall over k bands is 1-(1-p1^b)^k.  Longer bands mean
    fewer random candidates (2^-bits per band for cos~0 pairs) but need
    more bands for the same recall — so pick the LONGEST band width whose
    band count stays under MAX_BANDS:

        tau=0.95 -> (16, 23)   tau=0.90 -> (16, 53)
        tau=0.85 -> (12, 46)   tau=0.80 -> (10, 44)

    Below tau~0.75 no width fits and the widest-feasible fallback keeps
    recall at the cost of candidate volume — at that point an IVF-style
    search (operators/ann.py) is the better tool; embedding_neardup_pairs
    routes there below tau 0.8."""
    import math

    p1 = 1.0 - math.acos(max(-1.0, min(1.0, tau))) / math.pi
    best = None
    for bits in (16, 14, 12, 10, 8, 6, 4):
        p_band = p1 ** bits
        if p_band >= 1.0:  # tau == 1
            return bits, 1
        bands = math.ceil(
            math.log(1.0 - target_recall) / math.log(1.0 - p_band)
        )
        if best is None:
            best = (bits, min(bands, MAX_BANDS))  # widest as fallback
        if bands <= MAX_BANDS:
            return bits, bands
    return best


def hyperplane_lsh_pairs(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    tau: float,
    dim: int,
    bits_per_band: int | None = None,
    bands: int | None = None,
    seed: int = SEED,
    max_bucket: int = 2000,
    group_col: str | None = None,
) -> DataFrame:
    """(src, dst, cosine) pairs with cosine >= tau, src < dst.

    ``bits_per_band``/``bands`` default to ``lsh_params_for_tau(tau)``
    (0.99 recall at tau).

    ``max_bucket`` guards degenerate buckets (mass-duplicate content):
    quadratic pairing is capped there, and each oversized bucket emits
    only (bucket-min, member) candidates — LINEAR in bucket size.  Star
    candidates still pass through the cosine verify, so downstream
    connected components collapse the bucket into one cluster only for
    members that score >= tau against the bucket-min member (the common
    degenerate case — mass COPIES — verifies at cosine ~1.0 and stays
    fully connected; a mixed oversized bucket keeps only its true
    near-dup star edges, by design).  This is the SCALE.md
    "sample-representative for degenerate components" device: a
    10^9-copy boilerplate page costs 10^9 edges, not 10^18.

    ``group_col``: restrict pairing to rows sharing this column (the
    SCALE.md stage-3 sharding — e.g. canonicalize per linked entity
    neighborhood at 10^12 mentions, where even sub-quadratic global
    banding is infeasible).  The group is part of the bucket key.

    Rows whose id, embedding or group is NULL (or a NaN float) are
    dropped before banding: they make no pairs.
    """
    auto_bits, auto_bands = lsh_params_for_tau(tau)
    bits_per_band = auto_bits if bits_per_band is None else bits_per_band
    bands = auto_bands if bands is None else bands
    n_planes = bits_per_band * bands
    rng = np.random.default_rng(seed ^ 0x15A9)
    H32 = rng.standard_normal((dim, n_planes)).astype(np.float32)
    bpb = bits_per_band

    # banding over ids only — embeddings attach AFTER pair dedup, so the
    # candidate shuffle carries ids and band keys, never vectors
    gcols = [group_col] if group_col else []
    nodes = df.select(
        F.col(id_col).alias("_id"), F.col(embedding_col).alias("_emb"),
        *gcols,
    ).dropna(subset=["_id", "_emb", *gcols])
    join_keys = gcols + ["_key"]

    def band(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        weights = (1 << np.arange(bpb, dtype=np.int64))
        # pack the band index into the key's high bits: one long bucket
        # key instead of (band int, key long)
        offsets = np.arange(bands, dtype=np.int64) << bpb
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["_emb"].to_numpy()).astype(np.float32)
            bits = (M @ H32) > 0  # [n, n_planes]; sign() is f32-robust
            keys = bits.reshape(len(M), bands, bpb).astype(np.int64) @ weights
            out = {
                c: np.repeat(pdf[c].to_numpy(), bands)
                for c in ["_id", *gcols]
            }
            out["_key"] = (keys + offsets).ravel()
            yield pd.DataFrame(out)

    # dropna above leaves no NULL id or group: declaring them non-NULL
    # lets the optimizer fold away bucket_pairs' NULL filter
    banded = StructType([
        *(StructField(c, nodes.schema[c].dataType, False)
          for c in ["_id", *gcols]),
        StructField("_key", LongType(), False),
    ])
    cand = bucket_pairs(
        nodes.mapInPandas(band, banded), join_keys, max_bucket
    )
    ea = nodes.select(F.col("_id").alias("src"), F.col("_emb").alias("_ea"))
    eb = nodes.select(F.col("_id").alias("dst"), F.col("_emb").alias("_eb"))
    out = (
        cand.join(ea, "src").join(eb, "dst")
        .withColumn("cosine", cosine_expr("_ea", "_eb"))
        .filter(F.col("cosine") >= tau)
        .select("src", "dst", "cosine")
    )
    # nothing is cached; the empty handle keeps callers' unpersist() valid
    out.signature_cache = _CacheHandle()
    return out


def bucket_pairs(
    rows: DataFrame, keys: list[str], max_bucket: int
) -> DataFrame:
    """Distinct (src, dst) id pairs, src < dst, of rows sharing ``keys``.

    ``rows`` holds ``_id`` and the ``keys`` columns; rows with a NULL
    id or key are dropped.  A bucket of 2..``max_bucket`` rows pairs
    all its members; a larger one emits only its star, (the bucket's
    minimum id, each other member), so a hot bucket costs linear, not
    quadratic, candidates.

    ONE candidate exchange: hash-place the rows by bucket key and sort
    each partition by (keys, id).  A REPARTITION_BY_COL partition is
    never split by AQE, so every bucket is one contiguous run in one
    task; the pair kernel then sizes buckets from run lengths and pairs
    them without a size aggregate, join or cache."""
    cols = ["_id", *keys]
    rows = rows.select(*cols).where(
        reduce(operator.and_, [F.col(c).isNotNull() for c in cols])
    )
    id_type = rows.schema["_id"].dataType
    pair_schema = StructType([
        StructField("src", id_type), StructField("dst", id_type),
    ])
    return (
        rows.repartition(*keys)
        .sortWithinPartitions(*keys, "_id")
        .mapInPandas(
            lambda it: _sorted_run_pairs(it, keys, max_bucket),
            pair_schema,
        )
        .dropDuplicates(["src", "dst"])
    )


def _run_starts(pdf: pd.DataFrame, keys: list[str]) -> np.ndarray:
    """Row offsets where a new (keys) run begins in a sorted frame."""
    new = np.zeros(len(pdf), dtype=bool)
    new[:1] = True
    for k in keys:
        v = pdf[k].to_numpy()
        new[1:] |= v[1:] != v[:-1]
    return np.flatnonzero(new)


def _run_pairs(ids, starts, lens, sizes, max_bucket):
    """Candidate (src, dst) id pairs of the runs at ``starts``.

    ``lens`` counts a run's rows in ``ids``; ``sizes`` its whole bucket
    size (larger than ``lens`` only for an oversize run whose earlier
    rows were starred already).  A bucket of 2..max_bucket rows pairs
    all i<j; a larger one emits the star (first id, each other row)."""
    src, dst = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    small = (sizes >= 2) & (sizes <= max_bucket)
    for n in np.unique(lens[small]):
        i, j = np.triu_indices(n, 1)
        s = starts[small & (lens == n)][:, None]
        src.append((s + i).ravel())
        dst.append((s + j).ravel())
    big = sizes > max_bucket
    rest = lens[big] - 1
    first = np.repeat(starts[big], rest)
    # row offsets 1..rest past each run's first row
    step = np.arange(rest.sum()) - np.repeat(np.cumsum(rest) - rest, rest)
    src.append(first)
    dst.append(first + step + 1)
    a = ids[np.concatenate(src)]
    b = ids[np.concatenate(dst)]
    keep = a != b  # a repeated id is not a pair
    return pd.DataFrame({"src": a[keep], "dst": b[keep]})


def _sorted_run_pairs(batches, keys, max_bucket):
    """Pair kernel over one partition sorted by (keys, _id).

    Each run of equal ``keys`` is one bucket; ids are sorted inside it,
    so every emitted pair has src < dst.  The last run of a batch may
    continue in the next one and is carried over.  Once a carried run
    passes ``max_bucket`` it is starred as it streams and only its first
    row is kept, so memory stays O(batch + max_bucket), not O(bucket)."""
    drop_zip_finders()
    carry, done = None, 0  # open run's kept rows; its rows starred already
    for pdf in batches:
        if not len(pdf):
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        ids = pdf["_id"].to_numpy()
        starts = _run_starts(pdf, keys)
        lens = np.diff(np.append(starts, len(pdf)))
        sizes = lens.copy()
        sizes[0] += done
        # the last run may continue in the next batch: pair it only once
        # it is complete, but star an oversize one as it streams and keep
        # just its first row
        emit = np.ones(len(starts), dtype=bool)
        emit[-1] = sizes[-1] > max_bucket
        out = _run_pairs(
            ids, starts[emit], lens[emit], sizes[emit], max_bucket
        )
        if len(out):
            yield out
        last = starts[-1]
        if emit[-1]:
            carry, done = pdf.iloc[last:last + 1], sizes[-1] - 1
        else:
            carry, done = pdf.iloc[last:], 0
    if carry is not None and not done:
        n = np.array([len(carry)])
        out = _run_pairs(
            carry["_id"].to_numpy(), np.array([0]), n, n, max_bucket
        )
        if len(out):
            yield out
