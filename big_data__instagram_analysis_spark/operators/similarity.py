"""Similarity search over embedding columns (SURVEY.md §2 L3, J6).

Design for 100 TB:
  - ``cosine_topk`` streams the big side (A) partition-by-partition through an
    Arrow-batched ``mapInPandas`` while the small side (B — the query set, or
    the dedup candidate set) is a task broadcast of a dense float64 matrix.
    Each task computes a numpy matmul block and keeps only a chunk-local
    top-k (plus a rounding-margin band), so the shuffle carries O(k) rows per
    task regardless of |A|. The global top-k is a TakeOrderedAndProject.
  - The exact-HOF variant (``cosine_allpairs_hof``) keeps everything in
    Catalyst expressions — bit-exact vs DuckDB's sequential list_sum, but
    the expression fold is interpreted (no codegen): use it for parity
    checks at small scale, not as the scale path.
  - The LSH scale path for all-pairs near-neighbor lives in
    ``bucketed_random_projection`` (pyspark.ml), which replaces the
    quadratic pair space with per-bucket joins.

Shared core: every kernel of the cosine family (these operators and
queries/llm_similarity.py) normalizes with ``unit_rows``, broadcasts a
collected small side through ``broadcast_unit_rows`` (which runs the
``check_broadcast_bytes`` guard), prunes with ``band_select`` and
recomputes exact cosines with ``cosine_hof``. Kernels emit raw doubles; the
final ROUND + (sim, ids) ordering happens in Spark expressions (same
HALF_UP semantics as the DuckDB oracle), and the ROUND_MARGIN band keeps
every row that can still win after rounding (README "Cosine core").
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Keep chunk-local candidates within this raw-sim margin of the k-th best —
#: wide enough that 1e-6 rounding plus float noise cannot evict a global
#: top-k contender during chunk pruning.
ROUND_MARGIN = 1e-5

#: Rows per matmul slice inside the Arrow-batch loop: bounds the sims
#: matrix + mask temporaries to ~CH×|B|×9 bytes per call (≈4 MB at the
#: 2000-vector bench tier) no matter how large an Arrow batch the scan
#: delivers. Same FLOPs — this is allocation/bandwidth discipline, not an
#: algorithm change (PERF.md §56).
SIM_CHUNK = 256

#: Enforced ceiling on the driver-materialized broadcast matrix (float64
#: bytes). The brute-force operators' contract is "one side fits in executor
#: memory"; past this, use the sub-quadratic paths instead
#: (``ann_lsh_bucketed`` / ``ann_ivf_probe`` in queries/llm_similarity.py).
#: Overridable for larger driver/executor heaps. Checked after the collect
#: (no extra Spark jobs on the hot path — ``spark.driver.maxResultSize``
#: already bounds the collect itself with a clear error).
BROADCAST_MATRIX_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_BROADCAST_MATRIX_MAX_BYTES", 2 << 30)
)


def unit_rows(pdf: pd.DataFrame, vec_col: str, dim: int | None = None) -> np.ndarray:
    """The float64 matrix of ``pdf[vec_col]`` (its first ``dim`` components
    when given) with each row divided by its L2 norm.

    The one normalize of the cosine family. The division allocates a fresh
    C-contiguous matrix, so a prefix slice reaches BLAS in the same layout
    as a contiguous copy of it would.
    """
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)[:, :dim]
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def check_broadcast_bytes(caller: str, *mats: np.ndarray) -> None:
    """Enforce BROADCAST_MATRIX_MAX_BYTES on the matrices about to broadcast.

    The documented "one side fits" memory contract: past the bound the
    caller fails fast with an error that names the sub-quadratic
    alternatives, instead of letting a 100 TB misuse OOM an executor.
    """
    nbytes = sum(m.nbytes for m in mats)
    if nbytes > BROADCAST_MATRIX_MAX_BYTES:
        raise ValueError(
            f"{caller}: broadcast side is {nbytes / 2**30:.2f} GiB of "
            f"float64 ({mats[0].shape[0]} vectors), above the "
            f"{BROADCAST_MATRIX_MAX_BYTES / 2**30:.2f} GiB brute-force "
            "contract. Use the sub-quadratic paths (ann_lsh_bucketed / "
            "ann_ivf_probe, queries/llm_similarity.py) or raise "
            "SPARK_GRAFT_BROADCAST_MATRIX_MAX_BYTES if your executors can "
            "hold it."
        )


def broadcast_unit_rows(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *extra: str,
    caller: str,
):
    """Collect ``df`` once, guard its size and broadcast
    ``(ids, unit_rows, *extra columns)``.

    Returns the broadcast and the collected frame (for a caller that needs
    the raw vectors on the driver as well).
    """
    pdf = df.select(id_col, vec_col, *extra).toPandas()
    unit = unit_rows(pdf, vec_col)
    check_broadcast_bytes(caller, unit)
    ids = pdf[id_col].to_numpy().astype(np.int64)
    cols = (pdf[c].to_numpy() for c in extra)
    return spark.sparkContext.broadcast((ids, unit, *cols)), pdf


def band_select(
    sims: np.ndarray, valid: np.ndarray | bool, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(row, col) indices, row-major, of the valid entries of ``sims`` within
    ROUND_MARGIN of their row's k-th best valid entry.

    ``valid`` is a boolean mask broadcastable to ``sims`` (``True`` for all
    entries). A row with at most k valid entries keeps all of them: its
    k-th best of the masked row is a valid entry's value or ``-inf``.
    """
    masked = np.where(valid, sims, -np.inf)
    cut = sims.shape[1] - min(k, sims.shape[1])
    kth = np.partition(masked, cut, axis=1)[:, cut, None]
    return np.nonzero(valid & (masked >= kth - ROUND_MARGIN))


def cosine_hof(a: Column, b: Column) -> Column:
    """Exact cosine of two float-array columns in Catalyst expressions.

    Elements are cast to double and every dot product folds left to right
    (``aggregate`` over ``zip_with``), like DuckDB's sequential
    ``list_sum``: bit-identical doubles, at the cost of interpreted
    evaluation. A norm is ``sqrt(dot(a, a))``, the same products in the
    same order as ``sqrt(aggregate(transform(a, x -> x * x)))``.
    """
    a, b = (F.transform(c, lambda x: x.cast("double")) for c in (a, b))

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk_allpairs(
    emb: DataFrame,
    spark: SparkSession,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """All-pairs cosine top-k (id_a < id_b), vectorized.

    B (the whole table) is broadcast as a dense matrix — valid while one side
    fits in executor memory (the query-set contract); A streams through
    mapInPandas in Arrow batches. Emits (vec_a, vec_b, sim) with sim rounded
    via Spark's ROUND so the oracle comparison shares rounding semantics.
    """
    bc, _ = broadcast_unit_rows(
        spark, emb, id_col, vec_col, caller="cosine_topk_allpairs"
    )

    out_schema = "vec_a long, vec_b long, sim double"

    def chunk_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, nb = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids_all = pdf[id_col].to_numpy().astype(np.int64)
            na_all = unit_rows(pdf, vec_col)
            # Row-sliced matmul (round 10): an Arrow batch can be the whole
            # table at bench tier (one scan split), and a full-batch
            # |batch|×|B| sims matrix plus its boolean mask/gather
            # temporaries is tens of MB of allocation per call — measured
            # as the bench set's dominant wall-variance source (isolated
            # spikes 0.3→1.2 s; 4-10 s under the concurrent pass, where
            # the memory-bandwidth-bound mask/gather ops collide with 9
            # other jobs and the JVM's GC threads — PERF.md §56). Slicing
            # to SIM_CHUNK rows bounds temporaries to ~4 MB regardless of
            # batch size (same FLOPs, cache-resident), and chunk-local
            # top-k keeps the emitted rows O(k) per slice.
            for st in range(0, len(a_ids_all), SIM_CHUNK):
                a_ids = a_ids_all[st : st + SIM_CHUNK]
                sims = na_all[st : st + SIM_CHUNK] @ nb.T  # (chunk, |B|)
                mask = a_ids[:, None] < ids_b[None, :]
                flat = sims[mask]
                if flat.size == 0:
                    continue
                ai, bi = np.nonzero(mask)
                if flat.size > k:
                    kth = np.partition(flat, flat.size - k)[flat.size - k]
                    keep = flat >= kth - ROUND_MARGIN
                else:
                    keep = np.ones_like(flat, dtype=bool)
                yield pd.DataFrame(
                    {
                        "vec_a": a_ids[ai[keep]],
                        "vec_b": ids_b[bi[keep]],
                        "sim": flat[keep],
                    }
                )

    candidates = emb.select(id_col, vec_col).mapInPandas(chunk_topk, out_schema)
    return (
        candidates.select(
            "vec_a", "vec_b", F.round(F.col("sim"), round_digits).alias("sim")
        )
        .orderBy(F.desc("sim"), "vec_a", "vec_b")
        .limit(k)
    )


def cosine_topk_queries(
    corpus: DataFrame,
    queries: DataFrame,
    spark: SparkSession,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Top-k corpus neighbors per query vector (ANN brute-force baseline).

    Broadcast the query matrix; stream the corpus; per-task top-k per query;
    global rank window cuts to k. Output (query_id, neighbor_id, sim, rank).
    """
    bc, _ = broadcast_unit_rows(
        spark, queries, id_col, vec_col, caller="cosine_topk_queries"
    )

    out_schema = "query_id long, neighbor_id long, sim double"

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, nq = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy().astype(np.int64)
            sims = nq @ unit_rows(pdf, vec_col).T  # (|Q|, chunk)
            qi, ci = band_select(sims, ids_q[:, None] != c_ids[None, :], k)
            yield pd.DataFrame(
                {"query_id": ids_q[qi], "neighbor_id": c_ids[ci], "sim": sims[qi, ci]}
            )

    from pyspark.sql.window import Window

    cand = corpus.select(id_col, vec_col).mapInPandas(chunk, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_r"), F.asc("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(F.col("sim"), round_digits).alias("sim_r"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("sim_r").alias("sim"), "rank"
        )
    )


def cosine_threshold_pairs(
    emb: DataFrame,
    spark: SparkSession,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — vectorized candidates, exact emit.

    Two-phase plan so the quadratic pair space never touches interpreted
    expressions (78 s → ~2 s at 2,000 vecs measured):

      1. Candidate generation: broadcast the normalized matrix, stream the
         table through mapInPandas, numpy-matmul each chunk against it and
         keep pairs with raw sim ≥ threshold − ROUND_MARGIN. Emits only ids.
      2. Exact emit: join the (few) candidate pairs back to their vectors
         and recompute sim with the bit-exact HOF fold, filtering at the
         true rounded threshold — so the output hashes identically to the
         DuckDB oracle's sequential list_sum, while the heavy math stayed in
         numpy. The margin guarantees no true pair is lost in phase 1.
    """
    bc, _ = broadcast_unit_rows(
        spark, emb, id_col, vec_col, caller="cosine_threshold_pairs"
    )
    cut = threshold - ROUND_MARGIN

    def chunk_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, nb = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf[id_col].to_numpy().astype(np.int64)
            sims = unit_rows(pdf, vec_col) @ nb.T
            mask = (a_ids[:, None] < ids_b[None, :]) & (sims >= cut)
            ai, bi = np.nonzero(mask)
            if ai.size:
                yield pd.DataFrame({"vec_a": a_ids[ai], "vec_b": ids_b[bi]})

    cand = emb.select(id_col, vec_col).mapInPandas(
        chunk_pairs, "vec_a long, vec_b long"
    )

    a_side = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"))
    b_side = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"))
    sim = cosine_hof(F.col("ea"), F.col("eb"))
    return (
        cand.join(a_side, "vec_a")
        .join(b_side, "vec_b")
        .select("vec_a", "vec_b", F.round(sim, round_digits).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def cosine_allpairs_hof(emb: DataFrame, *, threshold: float) -> DataFrame:
    """Catalyst-only all-pairs cosine ≥ threshold (bit-exact parity variant).

    zip_with + aggregate folds run left-to-right like DuckDB list_sum —
    bit-identical doubles — at the cost of interpreted evaluation. Quadratic:
    small candidate sets only.
    """
    ed = emb.select("vec_id", F.col("embedding").alias("emb"))
    a, b = ed.alias("a"), ed.alias("b")
    sim = cosine_hof(F.col("a.emb"), F.col("b.emb"))
    return (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(sim, 6).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
