"""Shared pieces of entity linking: the entity matrix and the cosine column.

The reference has one search call, faiss ``index.search``
(query-index.py:111), exact when nprobe = nlist, whether the query
vector was just encoded or read back from storage.  So does this engine:
one Python UDF, ``encode_and_link`` (operators/fused.py), searches
``_IvfIndex`` (operators/ann.py) on span text it encodes or on a stored
``embedding`` column.  That search is one path at every nprobe, f64-exact
over the probed cells, so nprobe >= nlist is exact search.  The bucket
equi-join ``link_ann_join`` (operators/ann.py) is the operator for entity
tables too big to broadcast.  This module keeps what they share:

- ``_entity_arrays`` — entities sorted by entity_id as (ids, f64 matrix),
  so an entity's index IS its entity_id tie-break;
- ``cosine_expr`` — the dot of two array<float> columns as a Catalyst
  expression, for the join-side and DataFrame-side scorers.

Scores are float64; ties break by entity_id ascending — deterministic
across partitionings (the reference inherits whatever order faiss emits;
we pin it).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


def _entity_arrays(entities_pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Sorted-by-entity_id (id array, [E, dim] float64 matrix)."""
    ents = entities_pdf.sort_values("entity_id").reset_index(drop=True)
    eids = ents["entity_id"].to_numpy()
    emat = np.stack(ents["embedding"].to_numpy()).astype(np.float64)
    return eids, emat


def cosine_expr(a: str, b: str):
    """Dot product of two array<float> columns via zip_with/aggregate —
    pure Catalyst expression, whole-stage-codegen friendly.  Inputs are
    unit vectors (encoder normalizes), so dot == cosine, exactly the
    reference's trick (build-index.py:50, query-index.py:108)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
