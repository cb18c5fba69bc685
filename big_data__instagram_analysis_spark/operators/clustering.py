"""Lloyd's k-means as one fused Arrow pass per round (deterministic, no MLlib).

E8's IVF tier uses pyspark.ml's KMeans; this module is the from-scratch
loop, kept because the ITERATION SHAPE is the teachable scale pattern
(same family as operators/graph.py's CC and PageRank):

  round    — one mapInPandas pass and one collect(). Each Arrow batch
             computes all k squared distances and the argmin in NumPy,
             then folds assign and update into the same pass: it emits at
             most k partial rows (cluster_id, n, s, sse) — the member
             count, the vector sum and the squared-distance sum of each
             non-empty cluster in the batch. Vectors never shuffle and
             never leave their task; the driver sums the partials, in
             collect order so the result is deterministic. This is
             MLlib KMeans' per-partition-sums shape and RaSQL's "one pass
             per round with the aggregate folded in" (the earlier cached
             assign pass + inertia job + posexplode (cid, pos) shuffle
             cost 8 jobs per round, nearly all of it job overhead).
  update   — centroid = s / n; an empty cluster keeps its previous one.
  centroids — the k×dims matrix (independent of corpus size) is bound
             into each pass's function with functools.partial and ships
             with the task, so there is no broadcast to destroy and no
             cache to unpersist: nothing outlives the call.

Determinism: init = the k vectors with the smallest ids (not RNG), and
the argmin tie-breaks on cluster id — so runs are reproducible and the
inertia sequence is a testable monotone invariant (Lloyd's guarantee).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PARTIALS = "cluster_id int, n long, s array<double>, sse double"


def _nearest(b: pd.DataFrame, cen: np.ndarray):
    """(vectors, argmin cluster ids, squared distance to that centroid)."""
    m = np.stack(b["vec"].to_numpy()).astype(np.float64)
    d2 = ((m[:, None, :] - cen[None, :, :]) ** 2).sum(axis=2)
    # np.argmin returns the FIRST minimum → the lowest cluster id wins a tie.
    cid = np.argmin(d2, axis=1)
    return m, cid, d2[np.arange(len(m)), cid]


def _round_partials(batches: Iterator[pd.DataFrame], cen: np.ndarray):
    """Per batch, one (cluster_id, n, s, sse) row per non-empty cluster."""
    for b in batches:
        if b.empty:
            continue
        m, cid, d = _nearest(b, cen)
        ids = np.unique(cid)
        members = [cid == c for c in ids]
        yield pd.DataFrame(
            {
                "cluster_id": ids.astype(np.int32),
                "n": [int(k.sum()) for k in members],
                "s": [m[k].sum(axis=0) for k in members],
                "sse": [float(d[k].sum()) for k in members],
            }
        )


def _assignments(batches: Iterator[pd.DataFrame], cen: np.ndarray):
    """(vid, cluster_id, sq_dist) for every vector."""
    for b in batches:
        if b.empty:
            continue
        _, cid, d = _nearest(b, cen)
        yield pd.DataFrame(
            {"vid": b["vid"], "cluster_id": cid.astype(np.int32), "sq_dist": d}
        )


def kmeans_lloyd(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
) -> tuple[DataFrame, list[float]]:
    """Run ``iterations`` Lloyd rounds; return (assignments, inertia).

    Assignments: a lazy (vid, cluster_id, sq_dist) frame against the LAST
    round's input centroids. Inertia is recorded after each assignment
    step (sum of squared distances to that round's centroids) — Lloyd
    guarantees the sequence is non-increasing. Spark jobs: one for the
    init, one per round.
    """
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    cen = np.array(
        [r["vec"] for r in v.orderBy("vid").limit(k).collect()], dtype=np.float64
    )
    inertia: list[float] = []
    last = cen
    for _ in range(iterations):
        n = np.zeros(len(cen), dtype=np.int64)
        s = np.zeros_like(cen)
        sse = 0.0
        for r in v.mapInPandas(partial(_round_partials, cen=cen), _PARTIALS).collect():
            n[r["cluster_id"]] += r["n"]
            s[r["cluster_id"]] += r["s"]
            sse += r["sse"]
        inertia.append(sse)
        last, cen = cen, cen.copy()
        cen[n > 0] = s[n > 0] / n[n > 0, None]
    return (
        v.mapInPandas(
            partial(_assignments, cen=last), "vid long, cluster_id int, sq_dist double"
        ),
        inertia,
    )
