"""Lloyd's k-means: one fused pass per round, with a bounded local finish.

E8's IVF tier uses pyspark.ml's KMeans; this module is the from-scratch
loop, kept because the ITERATION SHAPE is the teachable scale pattern
(same family as operators/graph.py's CC and PageRank):

  round    — one pass of the kernel ``_round_partials`` and one collect.
             Each Arrow batch computes all k squared distances and the
             argmin in NumPy, then folds assign and update into the same
             pass: it emits at most k partial rows (cluster_id, n, s, sse)
             — the member count, the vector sum and the squared-distance
             sum of each non-empty cluster in the batch. The driver sums
             the partials in order, so the result is deterministic. This
             is MLlib KMeans' per-partition-sums shape and RaSQL's "one
             pass per round with the aggregate folded in".
  update   — centroid = s / n; an empty cluster keeps its previous one.
  centroids — the k×dims matrix (independent of corpus size) is bound
             into each pass's function with functools.partial, so there
             is no broadcast to destroy and no cache to unpersist.

Where the batches come from is the only fork. A corpus of at most
``LOCAL_KMEANS_MAX_VALUES`` float64 values (4M = 32 MB; the row bound is
values // dims, 62,500 vectors at 64 dims) is collected once by
``io.bounded_collect`` right after the init, and every round folds the
same kernel over 10,000-row slices of it on the driver — the Arrow batch
size a worker sees, so the n×k×dims temporary is no bigger than in a
worker — and the assignments come back as an ``io.local_frame``
(``LocalTableScan``). That is the single-machine tail
``operators/graph.connected_components`` already takes below
``LOCAL_CC_MAX_EDGES`` (Kiveris et al., SoCC'14): each ``mapInPandas``
pass is a Python worker task with a fixed ≈0.2 s CPU start-up (PERF.md
§76), while the NumPy work on a fixture-sized corpus takes milliseconds.
Above the bound the probe still runs — one more job, shipping up to
``LOCAL_KMEANS_MAX_VALUES`` values (32 MB) to the driver and discarding
them — and then each round is one ``mapInPandas`` job: vectors never
shuffle and never leave their task, and the assignments are a lazy
``mapInPandas`` over the last round's centroids.

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

from ..io import bounded_collect, local_frame

#: Float64 vector values (rows × dims, 32 MB) under which the Lloyd rounds
#: run on the driver over one bounded collect instead of one ``mapInPandas``
#: pass each: 62,500 vectors at the fixture's 64 dims. The same single-
#: machine tail as ``operators/graph.LOCAL_CC_MAX_EDGES``; a constant
#: independent of corpus size, so driver memory stays bounded at any scale.
LOCAL_KMEANS_MAX_VALUES = 4_000_000

_PARTIALS = "cluster_id int, n long, s array<double>, sse double"
_ASSIGNED = "vid long, cluster_id int, sq_dist double"
#: Rows per local slice: Spark's default Arrow batch size
#: (``spark.sql.execution.arrow.maxRecordsPerBatch``), so the kernels' n×k×dims
#: temporary is no bigger on the driver than in a worker.
_BATCH_ROWS = 10_000


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


def _batches(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
    """The collected vectors in the slices a worker's Arrow batches would be."""
    for i in range(0, len(pdf), _BATCH_ROWS):
        yield pdf.iloc[i : i + _BATCH_ROWS]


def kmeans_lloyd(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
) -> tuple[DataFrame, list[float]]:
    """Run ``iterations`` Lloyd rounds; return (assignments, inertia).

    Assignments: a (vid, cluster_id, sq_dist) frame against the LAST
    round's input centroids. Inertia is recorded after each assignment
    step (sum of squared distances to that round's centroids) — Lloyd
    guarantees the sequence is non-increasing.

    Local finish: when the corpus holds at most
    ``LOCAL_KMEANS_MAX_VALUES`` float64 values (rows × dims, read at call
    time), the rounds run on the driver over one bounded collect and the
    assignments come back as a ``LocalTableScan`` — Spark jobs: the init
    and the probe. Above it each round is one ``mapInPandas`` job and the
    assignments stay a lazy ``mapInPandas`` — Spark jobs: the init, the
    probe and one per round.
    """
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    cen = np.array(
        [r["vec"] for r in v.orderBy("vid").limit(k).collect()], dtype=np.float64
    )
    local = bounded_collect(v, LOCAL_KMEANS_MAX_VALUES // max(cen.shape[-1], 1))
    inertia: list[float] = []
    last = cen
    for _ in range(iterations):
        if local is None:
            rnd = partial(_round_partials, cen=cen)
            parts = v.mapInPandas(rnd, _PARTIALS).collect()
        else:
            frames = _round_partials(_batches(local), cen)
            parts = (r for f in frames for r in f.itertuples())
        n = np.zeros(len(cen), dtype=np.int64)
        s = np.zeros_like(cen)
        sse = 0.0
        for r in parts:
            n[r.cluster_id] += r.n
            s[r.cluster_id] += r.s
            sse += r.sse
        inertia.append(sse)
        last, cen = cen, cen.copy()
        cen[n > 0] = s[n > 0] / n[n > 0, None]
    if local is None:
        return v.mapInPandas(partial(_assignments, cen=last), _ASSIGNED), inertia
    frames = _assignments(_batches(local), last)
    rows = [t for f in frames for t in f.itertuples(index=False, name=None)]
    return local_frame(v.sparkSession, rows, _ASSIGNED), inertia
