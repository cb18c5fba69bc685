"""Similarity-search extension (SURVEY.md §2.10 L3 + ANN scale paths).

Three tiers over the embeddings table (64-d float vectors):

  1. ``ann_topk_queries`` — exact brute-force top-k for a query subset,
     SQL-oracle-checked. The correctness baseline.
  2. ``ann_lsh_bucketed`` — DataFrame random-projection LSH: the 100 TB
     path for *all-pairs* near-neighbor, replacing the quadratic pair
     space with occupancy-bounded per-bucket block-pair scoring.
     Hash-seeded → the registered query emits a certified
     precision/recall verdict (oracle pins TRUE); raw pairs stay
     available for tests/test_ann.py.
  3. ``ann_ivf_probe`` — IVF-style coarse quantization: KMeans centroids
     (broadcast), route every corpus vector to its cell, probe only the
     query's nearest cells. One shuffle on cell id; candidate count per
     query drops from |corpus| to |corpus|·(nprobe/ncells) at scale.
     Registered query emits a certified recall verdict; raw probe rows
     stay available for tests/test_ann.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, local_frame
from ..operators.similarity import (
    ROUND_MARGIN,
    band_select,
    broadcast_unit_rows,
    check_broadcast_bytes,
    cosine_hof,
    cosine_topk_queries,
    unit_rows,
)
from ..registry import query

#: Every 25th vector is a "query"; the rest are corpus. Deterministic split.
QUERY_MOD = 25
TOPK = 5


def _split(emb: DataFrame):
    queries = emb.where(F.col("vec_id") % QUERY_MOD == 0)
    return emb, queries


# --- L3 baseline: exact top-k per query, SQL-checked --------------------------


@query(
    "ann_topk_queries",
    category="L3,E6",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
), c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_sum(list_transform(range(1, 1 + len(qe)), i -> qe[i] * ce[i]))
           / (sqrt(list_sum(list_transform(qe, x -> x * x)))
              * sqrt(list_sum(list_transform(ce, x -> x * x)))) AS sim_raw
  FROM q, c
  WHERE query_id != neighbor_id
), r AS (
  SELECT query_id, neighbor_id, round(sim_raw, 6) AS sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(sim_raw, 6) DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {TOPK}
ORDER BY query_id, rank
""",
)
def ann_topk_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors per query vector (brute-force baseline).

    Query matrix broadcasts; corpus streams through Arrow-batched mapInPandas
    (numpy matmul per chunk, chunk-local top-k) — shuffle volume is O(k·|Q|)
    rows however large the corpus (operators/similarity.py).
    """
    corpus, queries = _split(load(spark, sf_dir, "embeddings"))
    out = cosine_topk_queries(corpus, queries, spark, k=TOPK)
    return out.withColumn("rank", F.col("rank").cast("int")).orderBy(
        "query_id", "rank"
    )


# --- LSH-bucketed scale path --------------------------------------------------


#: Random-projection LSH parameters (match the pyspark.ml defaults this
#: module used through round 3: 6 tables, bucket length 0.25 on unit vectors).
LSH_TABLES = 6
LSH_BUCKET_LEN = 0.25
#: Max rows a single pair-scoring group may hold per side. Buckets larger
#: than this are salted into ⌈cnt/B⌉ hash blocks and scored block-PAIR by
#: block-pair, so executor memory is O(B·d + chunk·B) no matter how
#: degenerate the bucket occupancy gets (round-4 VERDICT "What's wrong #1":
#: on a near-isotropic corpus a 0.25 bucket holds ~half the vectors — an
#: unbounded per-(band,bucket) pandas group is one-task skew + OOM at
#: 100 TB). Pair COVERAGE is unchanged: every same-bucket row pair meets in
#: exactly one block pair, so recall/precision are bit-identical to the
#: unblocked form.
LSH_MAX_BUCKET_ROWS = 512
#: Left-side chunk for the in-group matmul: peak sim-matrix memory is
#: chunk × (2·LSH_MAX_BUCKET_ROWS) doubles, not rows².
LSH_SCORE_CHUNK = 256
#: Exact-cosine acceptance: ||a-b||² = 2-2cos for unit vectors, so the
#: ml-era euclidean cut d ≤ 1.05 ⇔ cos ≥ 1 - 1.05²/2 = 0.44875. The fixture
#: vectors are near-isotropic (pairwise cos ~ N(0, 1/64), max ≈ 0.48
#: measured), so this is ≈3.6σ — "near-duplicate" for this corpus.
LSH_COS_CUT = 1 - 1.05**2 / 2


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw LSH near-neighbor pairs (vec_a, vec_b, cos_sim) — used by the
    registered certified query below and tests/test_ann.py.

    Pure DataFrame + Arrow random-projection LSH (rounds 1-3 used
    pyspark.ml's BucketedRandomProjectionLSH.approxSimilarityJoin — same
    structure but ~8.5 s at sf0.1 from vector-type overhead and a
    non-codegen keyDistance UDF; this form runs ~2.5 s):

      1. one mapInPandas pass projects each unit-normalized vector onto
         LSH_TABLES seeded gaussian unit directions and emits
         (vec_id, band, floor(proj / bucket_len)) rows — numpy matmul
         per Arrow batch, centroid-free, broadcast-free;
      2. occupancy bounding: per-(band, bucket) counts split any bucket
         over LSH_MAX_BUCKET_ROWS into ⌈cnt/B⌉ deterministic hash blocks
         (pmod(xxhash64(vec_id), n_blocks)); each row fans out to every
         block PAIR involving its block, so the scoring group key is
         (band, bucket, bi, bj) and holds ≤ ~2B rows however degenerate
         the occupancy (see _lsh_blocked). Within a bucket of b rows the
         fan-out is ⌈b/B⌉ copies — exactly the pair-space duplication the
         quadratic contract already implies, now paid as bounded groups
         instead of one unbounded task;
      3. per-group brute force via applyInPandas: a CHUNKED numpy matmul
         (cross-block, or upper-triangular for the diagonal block pair)
         emits exactly the pairs clearing LSH_COS_CUT. A row-level
         self-join on (band, bucket) would materialize tens of millions
         of candidate rows (measured: the dominant cost of both the ml
         version and a join-based rewrite); the in-group matmul does the
         same pair space as BLAS flops and emits only the ~10² survivors.
         Pair work stays per-bucket quadratic — the bucketed-LSH
         contract — but memory is O(B·d + chunk·B) per task;
      4. distinct across bands (a pair can collide in several bands;
         cosines are identical doubles, computed from the same vectors).
         A pair meets at most ONCE per band — its two rows share exactly
         one block pair — so blocking adds no new duplicates. Precision
         is exact by construction, recall is the certified contract.
    """
    emb = load(spark, sf_dir, "embeddings")
    rng = np.random.default_rng(42)
    proj = rng.normal(size=(LSH_TABLES, 64))
    proj = proj / np.linalg.norm(proj, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast(proj)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pr = bc.value
        for b in batches:
            if b.empty:
                continue
            m = unit_rows(b, "embedding")
            h = np.floor((m @ pr.T) / LSH_BUCKET_LEN).astype(np.int64)
            n = len(b)
            # embedding rides along so the per-bucket scorer needs no
            # join-back (6x duplication of 64 floats — bounded, columnar).
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(b["vec_id"].to_numpy(), LSH_TABLES),
                    "band": np.tile(np.arange(LSH_TABLES, dtype=np.int32), n),
                    "bucket": h.ravel(),
                    "embedding": np.repeat(b["embedding"].to_numpy(), LSH_TABLES),
                }
            )

    buckets = emb.select("vec_id", "embedding").mapInPandas(
        bucketize, "vec_id long, band int, bucket long, embedding array<float>"
    )

    return (
        _lsh_blocked(buckets)
        .groupBy("band", "bucket", "bi", "bj")
        .applyInPandas(_block_pairs, "vec_a long, vec_b long, cos_sim double")
        .distinct()
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
    )


def _lsh_blocked(buckets: DataFrame) -> DataFrame:
    """Bound pair-scoring group size: salt oversized buckets into block pairs.

    Input: (band, bucket, vec_id, embedding) rows. Output adds (bi, bj,
    block) where (bi ≤ bj) is the scoring-group key. A bucket of cnt rows
    gets n_blocks = ⌈cnt / LSH_MAX_BUCKET_ROWS⌉ hash blocks; each row
    fans out to the n_blocks unordered block pairs containing its block,
    so every same-bucket row pair meets in EXACTLY one (bi, bj) group
    (their two blocks' pair; the diagonal pair for same-block rows) and
    each group holds ≤ two blocks ≈ 2·LSH_MAX_BUCKET_ROWS rows. Block
    membership is pmod(xxhash64(vec_id), n_blocks): deterministic, and
    binomially concentrated around cnt/n_blocks (≤ B + a few √B w.h.p. —
    tests/test_ann.py pins the measured max on a 40×-inflated corpus).
    When cnt ≤ B this degenerates to one (0, 0) group with zero fan-out.
    The counts join shares the (band, bucket) hash partitioning with the
    aggregation that produced it, and AQE handles a hot bucket's join
    skew. Fan-out cost: the exploded projection carries the embedding
    column, so each row duplicates its full vector ⌈cnt/B⌉ times through
    the shuffle to the scorer (⌈cnt/B⌉ × vector bytes per row) — the
    accepted price of bounding group size; only rows in oversized buckets
    pay it.
    """
    counts = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    tagged = (
        buckets.join(counts, ["band", "bucket"])
        .withColumn(
            "n_blocks",
            F.ceil(F.col("cnt") / F.lit(LSH_MAX_BUCKET_ROWS)).cast("int"),
        )
        .withColumn(
            "block", F.pmod(F.xxhash64("vec_id"), F.col("n_blocks")).cast("int")
        )
    )
    return tagged.select(
        "band",
        "bucket",
        "block",
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.col("n_blocks") - 1)).alias("other"),
    ).select(
        "band",
        "bucket",
        F.least("block", "other").alias("bi"),
        F.greatest("block", "other").alias("bj"),
        "block",
        "vec_id",
        "embedding",
    )


def _scored_block_pairs(pdf: pd.DataFrame, cut: float):
    """Score one (band, bucket, bi, bj) group: chunked brute-force cosine.

    Returns (vec_a, vec_b, sim) arrays, vec_a < vec_b, of the pairs with
    raw sim ≥ ``cut``. Diagonal groups (bi == bj) score the upper triangle
    of one block; off-diagonal groups score the full cross product of two
    blocks. The left side streams through in LSH_SCORE_CHUNK-row slices so
    the sim matrix never exceeds chunk × |right| doubles.
    """
    bi = int(pdf["bi"].iat[0])
    bj = int(pdf["bj"].iat[0])
    diagonal = bi == bj
    left = right = pdf
    if not diagonal:
        left = pdf[pdf["block"] == bi]
        right = pdf[pdf["block"] == bj]
    if len(pdf) < 2 or left.empty or right.empty:
        no_ids = np.empty(0, np.int64)
        return no_ids, no_ids, np.empty(0)
    ids_l = left["vec_id"].to_numpy()
    ids_r = right["vec_id"].to_numpy()
    ml = unit_rows(left, "embedding")
    mr = ml if diagonal else unit_rows(right, "embedding")
    outs_a: list[np.ndarray] = []
    outs_b: list[np.ndarray] = []
    outs_s: list[np.ndarray] = []
    for s in range(0, len(ml), LSH_SCORE_CHUNK):
        sim = ml[s : s + LSH_SCORE_CHUNK] @ mr.T
        il, ir = np.where(sim >= cut)
        gl = il + s
        if diagonal:
            keep = gl < ir  # upper triangle, matching the pre-block form
            il, ir, gl = il[keep], ir[keep], gl[keep]
        outs_a.append(ids_l[gl])
        outs_b.append(ids_r[ir])
        outs_s.append(sim[il, ir])
    a_ids = np.concatenate(outs_a).astype(np.int64)
    b_ids = np.concatenate(outs_b).astype(np.int64)
    swap = a_ids > b_ids
    sims = np.concatenate(outs_s)
    return np.where(swap, b_ids, a_ids), np.where(swap, a_ids, b_ids), sims


def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
    """LSH scorer: the group's pairs clearing LSH_COS_CUT, sims at 6 dp."""
    a_ids, b_ids, sims = _scored_block_pairs(pdf, LSH_COS_CUT)
    return pd.DataFrame(
        {"vec_a": a_ids, "vec_b": b_ids, "cos_sim": np.round(sims, 6)}
    )


@query(
    "ann_lsh_bucketed",
    category="L3,L2,E7",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       TRUE AS all_reported_valid,
       TRUE AS topk_recall_ge_0_8
FROM embeddings
""",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs near-neighbor via random-projection LSH bucketing.

    Vectors land in random-hyperplane buckets; pairs are scored only
    within (band, bucket) groups — occupancy-bounded into block pairs by
    _lsh_blocked — so pair candidates scale with bucket occupancy, not
    |corpus|², and no single task ever holds more than ~2·B rows: the
    100 TB all-pairs path.

    Hash-checked via the certified-property pattern: the hash family is
    model state (never SQL-portable), but the method's QUALITY contract is
    — every reported pair truly clears the cosine threshold implied by
    the distance cut (d ≤ 1.05 on unit vectors ⇔ cos ≥ 1 − d²/2 =
    0.44875; the in-bucket scorer computes exact cosines on candidates,
    so precision is exact by construction), and ≥80% of the exact global
    top-10 pairs (brute-force ground truth, recomputed in-query via
    operators/similarity.cosine_topk_allpairs) surface in the LSH output.
    The oracle pins both booleans next to the corpus size. Raw pairs stay
    available via _lsh_candidate_pairs for tests/test_ann.py.

    COST NOTE (VERDICT r8): at the ×10 tier this query's ~72 s is spent
    almost entirely in the brute-force recall CERTIFICATE (exact global
    top-10 over all pairs), not the LSH datapath — the LSH side stays
    sub-quadratic. At deployment scale the certificate would be computed
    over a bounded ANCHOR SAMPLE of query vectors (exact top-k per
    sampled anchor is O(sample × corpus), the standard recall-audit
    recipe) rather than all pairs; the fixture-tier exact certificate is
    kept because it is strictly stronger evidence where it is affordable.
    """
    from ..operators.similarity import cosine_topk_allpairs

    emb = load(spark, sf_dir, "embeddings")
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    exact_top = cosine_topk_allpairs(emb, spark, k=10).select("vec_a", "vec_b")
    hits = exact_top.join(
        pairs.select("vec_a", "vec_b"), ["vec_a", "vec_b"], "left_semi"
    )
    valid = pairs.agg(
        F.coalesce(
            F.min(F.col("cos_sim") >= 1 - 1.05**2 / 2 - 1e-6), F.lit(True)
        ).alias("all_reported_valid")
    )
    recall = hits.agg(F.count(F.lit(1)).alias("n_hit")).crossJoin(
        exact_top.agg(F.count(F.lit(1)).alias("n_true"))
    )
    return (
        emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .crossJoin(valid)
        .crossJoin(recall)
        .select(
            "n_vecs",
            "all_reported_valid",
            (F.col("n_hit") >= 0.8 * F.col("n_true")).alias(
                "topk_recall_ge_0_8"
            ),
        )
    )


# --- IVF-style coarse-quantization probe --------------------------------------


#: Centroid-training sample bound. Driver memory for training is
#: O(IVF_TRAIN_N × dims) REGARDLESS of corpus size — routing quality only
#: needs a representative sample, never the full table (exactness comes from
#: the in-cell brute force, not the centroids).
IVF_TRAIN_N = 2048
IVF_NCELLS = 8


def _ivf_training_sample(emb: DataFrame) -> DataFrame:
    """Bounded deterministic training sample for IVF centroids.

    ``ORDER BY xxhash64(vec_id) LIMIT N`` plans as ``TakeOrderedAndProject``:
    each task keeps its local top-N by hash and the driver merges N rows —
    no global sort shuffle, no full-table collect. The hash order is a
    deterministic pseudo-random permutation, so the sample is unbiased,
    stable across partitioning/topology, and capped at IVF_TRAIN_N rows at
    ANY corpus scale (the 100 TB fix for the round-3 full-table
    ``toPandas()`` flagged in VERDICT.md)."""
    return (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")))
        .limit(IVF_TRAIN_N)
    )


def _ivf_train_centroids(emb: DataFrame) -> np.ndarray:
    """Seeded numpy k-means over the bounded sample → (ncells, dims) matrix.

    The ONLY driver-side materialization in the IVF path: IVF_TRAIN_N rows
    (few MB), never O(corpus). A few Lloyd iterations on a sample is the
    standard IVF training recipe (coarse quantizers don't need convergence
    on the full data — FAISS trains on samples too)."""
    pdf = _ivf_training_sample(emb).toPandas()
    mat = unit_rows(pdf, "embedding")
    rng = np.random.default_rng(7)
    cents = mat[rng.choice(len(mat), IVF_NCELLS, replace=False)]
    for _ in range(10):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(IVF_NCELLS):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cents[c] = v / np.linalg.norm(v)
    return cents


def _ivf_probe_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw IVF probe results (query_id, neighbor_id, sim, rank) — used by
    the registered certified query below and tests/test_ann.py."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    bc = spark.sparkContext.broadcast(_ivf_train_centroids(emb))

    # Round 13 (guide §8 "move the payload once"): the route pass carries
    # the embedding THROUGH the Arrow boundary (float32 roundtrips
    # bit-exactly) instead of emitting bare (vec_id, cell) and paying a
    # full corpus self-join to re-attach it — that join shuffled every
    # embedding by vec_id for rows that were already colocated.
    def route(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        for b in batches:
            if b.empty:
                continue
            yield pd.DataFrame(
                {
                    "vec_id": b["vec_id"],
                    "embedding": b["embedding"],
                    "cell": np.argmax(unit_rows(b, "embedding") @ cent.T, axis=1),
                }
            )

    corpus_cells = emb.select("vec_id", "embedding").mapInPandas(
        route, "vec_id long, embedding array<float>, cell int"
    )

    # Queries probe their top-3 cells (nprobe=3 of 8 — the fixture vectors
    # are isotropic, so routing correlation is weak and a real corpus with
    # cluster structure would need fewer probes for the same recall).
    # Probe assignment runs DISTRIBUTED (same broadcast-centroid mapInPandas
    # shape as corpus routing, emitting nprobe rows per query) — the query
    # set is a fraction of the corpus, so driver-side routing would have
    # been O(n) at scale just like the training collect this round removed.
    def route_queries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        for b in batches:
            if b.empty:
                continue
            top = np.argsort(-(unit_rows(b, "embedding") @ cent.T), axis=1)[:, :3]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(b["vec_id"].to_numpy(), 3),
                    "cell": top.ravel().astype(np.int32),
                }
            )

    probes = (
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id") % QUERY_MOD == 0)
        .mapInPandas(route_queries, "query_id long, cell int")
    )
    q_vecs = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).where(F.col("query_id") % QUERY_MOD == 0)

    cand = (
        probes.join(corpus_cells, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q_vecs), "query_id")
    )

    # Arrow-vectorized cosine over the candidate pairs (the interpreted HOF
    # fold measured 21 s on sf0.1's ~150k candidates; this runs in ~2 s).
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_sim(qs: pd.Series, cs: pd.Series) -> pd.Series:
        q = np.stack(qs.to_numpy()).astype(np.float64)
        c = np.stack(cs.to_numpy()).astype(np.float64)
        num = (q * c).sum(axis=1)
        den = np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1)
        return pd.Series(num / den)

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos_sim("q_emb", "embedding"), 6).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOPK)
        .orderBy("query_id", "rank")
    )


@query(
    "ann_ivf_probe",
    category="L3,E8",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       TRUE AS k_bounded,
       TRUE AS recall_ge_0_6
FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
""",
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: route corpus to KMeans cells, probe 3 nearest cells/query.

    The centroid table is tiny and broadcasts; cell routing is one
    mapInPandas pass (numpy argmin over centroids); candidate generation is
    an equi-join on cell_id — the shuffle key — instead of a cross join.

    Hash-checked via the certified-property pattern: which neighbors
    surface depends on centroid state (a true neighbor can live in an
    unprobed cell — never SQL-portable), but the method's contract is —
    every query emits at most k ranked neighbors, and ≥60% of the exact
    brute-force top-5 (ground truth recomputed in-query via
    operators/similarity.cosine_topk_queries) is recovered at nprobe=3/8.
    The oracle pins both booleans next to the exact query count. Raw probe
    results stay available via _ivf_probe_rows for tests/test_ann.py.
    """
    emb = load(spark, sf_dir, "embeddings")
    corpus, queries = _split(emb)
    got = _ivf_probe_rows(spark, sf_dir)
    exact = cosine_topk_queries(corpus, queries, spark, k=TOPK).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(
        got.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    k_ok = got.groupBy("query_id").agg(F.count(F.lit(1)).alias("k")).agg(
        F.coalesce(F.min(F.col("k") <= TOPK), F.lit(True)).alias("k_bounded")
    )
    recall = hits.agg(F.count(F.lit(1)).alias("n_hit")).crossJoin(
        exact.agg(F.count(F.lit(1)).alias("n_true"))
    )
    return (
        queries.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
        .crossJoin(k_ok)
        .crossJoin(recall)
        .select(
            "n_queries",
            "k_bounded",
            (F.col("n_hit") >= 0.6 * F.col("n_true")).alias("recall_ge_0_6"),
        )
    )


@query(
    "embedding_centroids_by_label",
    category="L3,E22",
    oracle="""
SELECT label,
       CAST(i - 1 AS INTEGER) AS pos,
       round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS c,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM embeddings, range(1, 65) r(i)
GROUP BY label, i
ORDER BY label, pos
""",
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, dimension-wise: the vector AGGREGATE
    of the pipeline (cluster centers, class prototypes, IVF codebook
    refresh).

    posexplode flattens (vector → 64 (pos, x) rows) so the mean is an
    ordinary two-phase groupBy on (label, pos) — partial avg map-side, one
    shuffle keyed (label, pos), no vector ever materialized on the driver.
    That is the 100 TB shape: dimension-wise scalar aggregation parallelizes
    over label×dim cells, whereas a collect-and-average would serialize
    every vector through one process. Output stays flat (label, pos, c) —
    re-assembling arrays is a presentation step, not an aggregation step.
    """
    e = load(spark, sf_dir, "embeddings")
    flat = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    return (
        flat.groupBy("label", "pos")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 6).alias("c"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "pos")
    )


# ---------------------------------------------------------------------------
# E224: SemDeDup — semantic (embedding-space) deduplication
# ---------------------------------------------------------------------------

#: SemDeDup cluster count: the coarse semantic buckets pairs are scored in.
SEMDEDUP_K = 8
#: Within-cluster cosine at/above which two documents are semantic dups.
#: ≈2.8σ of the fixture's near-isotropic pairwise-cosine distribution
#: (σ = 1/√64): 77/75/1073 same-cluster pairs at sf0.001/0.01/0.1 —
#: non-vacuous at every SF (the round-3 zero-row-audit rule).
SEMDEDUP_TAU = 0.35


def _semdedup_block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
    """SemDeDup scorer: the group's candidate pairs at τ − ROUND_MARGIN.

    Emits bare id pairs under a safety-margin cut: the exact HOF recompute
    downstream applies the true rounded threshold, so the hash is
    engine-exact while the quadratic pair space stays in numpy (the
    cosine_threshold_pairs two-phase pattern, per semantic cluster)."""
    a_ids, b_ids, _ = _scored_block_pairs(pdf, SEMDEDUP_TAU - ROUND_MARGIN)
    cluster = pdf["bucket"].iat[0]
    return pd.DataFrame(
        {
            "cluster_id": np.full(a_ids.size, cluster, dtype=np.int64),
            "vec_a": a_ids,
            "vec_b": b_ids,
        }
    )


@query(
    "semantic_dedup_clusters",
    category="L2,L3,E224",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {SEMDEDUP_K}
), sims AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_sum(list_transform(range(1, 1 + len(e.embedding)),
                  i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))
           / (sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))), 6) AS sim_r
  FROM embeddings e CROSS JOIN cent c
), assign AS (
  SELECT vec_id, centroid_id AS cluster_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim_r DESC, centroid_id) AS rn
    FROM sims) WHERE rn = 1
), pairs AS (
  SELECT aa.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM embeddings a JOIN assign aa ON a.vec_id = aa.vec_id
  JOIN assign bb ON aa.cluster_id = bb.cluster_id AND aa.vec_id < bb.vec_id
  JOIN embeddings b ON b.vec_id = bb.vec_id
  WHERE round(list_sum(list_transform(range(1, 1 + len(a.embedding)),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(a.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(b.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= {SEMDEDUP_TAU}
)
SELECT m.cluster_id,
       CAST(count(DISTINCT m.vec_id) AS BIGINT) AS n_members,
       CAST(coalesce(any_value(p.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
       CAST(coalesce(any_value(p.n_removed), 0) AS BIGINT) AS n_removed,
       CAST(coalesce(any_value(p.removed_id_sum), 0) AS BIGINT) AS removed_id_sum
FROM assign m LEFT JOIN (
  SELECT cluster_id, count(*) AS n_dup_pairs,
         count(DISTINCT vec_b) AS n_removed,
         sum(DISTINCT vec_b) AS removed_id_sum
  FROM pairs GROUP BY cluster_id) p USING (cluster_id)
GROUP BY m.cluster_id ORDER BY m.cluster_id
""",
)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space coarsely,
    then call same-cluster pairs above a cosine threshold semantic
    duplicates and keep the lowest id of each pair — pair scoring never
    leaves a cluster, so the quadratic pair space shrinks from |corpus|²
    to Σ|cluster|².

    Spark plan, stage by stage (the 100 TB shape):
      1. Deterministic "codebook": the SEMDEDUP_K vectors with smallest
         md5(vec_id) — ORDER BY hash LIMIT k plans as
         TakeOrderedAndProject (per-task local top-k, k-row driver merge;
         the bounded-collect idiom shared with IVF training). A real
         deployment would drop in kmeans_lloyd centroids; a hash-selected
         codebook keeps the clustering oracle-recomputable while
         exercising the identical assignment/pair machinery.
      2. Assignment, two-phase: an Arrow mapInPandas pass matmuls each
         batch against the task-broadcast (k×64) centroid matrix and
         emits every centroid within ROUND_MARGIN of the row max
         (usually exactly one); a broadcast join to the k-row centroid
         table recomputes those few sims with the bit-exact HOF fold and
         row_number picks argmax on (round(sim,6) DESC, centroid_id) —
         so the chosen cluster hashes identically to DuckDB's
         all-centroids scan (margin argument: any centroid whose ROUNDED
         sim ties the max has raw sim within 1e-6+ulp ≪ ROUND_MARGIN of
         it, hence is a candidate).
      3. Pair scoring per cluster through the SAME occupancy-bounded
         block-pair machinery as ann_lsh_bucketed (_lsh_blocked with
         bucket = cluster id): no task ever holds more than ~2·B rows
         even if one semantic cluster swallows the corpus. Groups emit
         candidate id pairs at τ − margin (numpy, chunked).
      4. Exact confirm + accounting: candidates join back to their
         vectors, the HOF fold applies the true rounded τ, and one
         per-cluster aggregate emits members / dup pairs / removed
         (distinct larger ids) / removed-id checksum.
    """
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")

    codebook = emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id").limit(
        SEMDEDUP_K
    )
    bc, cent = broadcast_unit_rows(
        spark, codebook, "vec_id", "embedding", caller="semantic_dedup_clusters"
    )
    cent_df = local_frame(
        spark,
        [
            (int(i), [float(x) for x in v])
            for i, v in zip(cent["vec_id"], cent["embedding"])
        ],
        "centroid_id long, cvec array<double>",
    )

    def cand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_c, cm = bc.value
        for b in batches:
            if b.empty:
                continue
            ri, ci = band_select(unit_rows(b, "embedding") @ cm.T, True, 1)
            yield pd.DataFrame(
                {
                    "vec_id": b["vec_id"].to_numpy()[ri],
                    "centroid_id": ids_c[ci],
                    "embedding": b["embedding"].to_numpy()[ri],
                }
            )

    cands = emb.select("vec_id", "embedding").mapInPandas(
        cand, "vec_id long, centroid_id long, embedding array<float>"
    )

    sim_r = F.round(cosine_hof(F.col("embedding"), F.col("cvec")), 6)
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_r"), "centroid_id")
    assign = (
        cands.join(F.broadcast(cent_df), "centroid_id")
        .select("vec_id", "centroid_id", "embedding", sim_r.alias("sim_r"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id", F.col("centroid_id").alias("cluster_id"), "embedding"
        )
    )

    buckets = assign.select(
        F.lit(0).cast("int").alias("band"),
        F.col("cluster_id").alias("bucket"),
        "vec_id",
        "embedding",
    )
    cand_pairs = (
        _lsh_blocked(buckets)
        .groupBy("band", "bucket", "bi", "bj")
        .applyInPandas(
            _semdedup_block_pairs, "cluster_id long, vec_a long, vec_b long"
        )
    )

    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    pair_sim = F.round(cosine_hof(F.col("va"), F.col("vb")), 6)
    confirmed = (
        cand_pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .where(pair_sim >= F.lit(SEMDEDUP_TAU))
        .select("cluster_id", "vec_a", "vec_b")
    )

    members = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    pstats = confirmed.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("pairs"),
        F.countDistinct("vec_b").alias("removed"),
        F.sum_distinct(F.col("vec_b")).alias("rid_sum"),
    )
    return (
        members.join(pstats, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("rid_sum", F.lit(0))
            .cast("long")
            .alias("removed_id_sum"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# E232: Matryoshka truncation audit — prefix-dim ANN fidelity
# ---------------------------------------------------------------------------

#: Prefix dimensions audited against the full vector (the MRL ladder).
MRL_DIMS = (16, 32, 64)


def _mrl_ranked_sweep(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """One-pass MRL sweep: per Arrow batch of the corpus, prefix-truncate,
    prefix-normalize and matmul at every MRL dim against the broadcast
    query matrices, keeping each (dim, query)'s chunk-local top-k band
    (k=5 at the full dim for the top-5 membership audit, k=1 truncated).
    One window then ranks (dim, query) with the ann (round-6 sim DESC,
    neighbor_id) total order. Returns (dim, query_id, neighbor_id, rank)
    with rank ≤ 5 at the full dim and rank = 1 at truncated dims —
    exactly the rows the three separate cosine_topk_queries sweeps kept.
    """
    from pyspark.sql.window import Window

    full_dim = MRL_DIMS[-1]
    qpdf = (
        emb.where(F.col("vec_id") % QUERY_MOD == 0)
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids_q = qpdf["vec_id"].to_numpy().astype(np.int64)
    qn = {d: unit_rows(qpdf, "embedding", d) for d in MRL_DIMS}
    check_broadcast_bytes("matryoshka_truncation_audit", *qn.values())
    bc = spark.sparkContext.broadcast((ids_q, qn))
    ks = {d: (5 if d == full_dim else 1) for d in MRL_DIMS}

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids_q, b_qn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy().astype(np.int64)
            mask = b_ids_q[:, None] != c_ids[None, :]
            for d, nqd in b_qn.items():
                sims = nqd @ unit_rows(pdf, "embedding", d).T
                qi, ci = band_select(sims, mask, ks[d])
                yield pd.DataFrame(
                    {
                        "dim": np.full(qi.size, d, dtype=np.int32),
                        "query_id": b_ids_q[qi],
                        "neighbor_id": c_ids[ci],
                        "sim": sims[qi, ci],
                    }
                )

    cand = emb.select("vec_id", "embedding").mapInPandas(
        chunk, "dim int, query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("sim_r"), F.asc("neighbor_id")
    )
    ranked = (
        cand.select(
            "dim", "query_id", "neighbor_id", F.round("sim", 6).alias("sim_r")
        )
        .withColumn("rank", F.row_number().over(w))
    )
    return ranked.where(
        ((F.col("dim") == full_dim) & (F.col("rank") <= 5))
        | ((F.col("dim") != full_dim) & (F.col("rank") <= 1))
    ).select("dim", "query_id", "neighbor_id", "rank")


@query(
    "matryoshka_truncation_audit",
    category="L3,E232",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
), c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings
), p AS (
  SELECT query_id, neighbor_id, qe, ce
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
), s AS (
  SELECT query_id, neighbor_id, d.dim AS dim,
         round(list_sum(list_transform(range(1, 1 + d.dim),
                 i -> qe[i] * ce[i]))
           / (sqrt(list_sum(list_transform(list_slice(qe, 1, d.dim),
                 x -> x * x)))
            * sqrt(list_sum(list_transform(list_slice(ce, 1, d.dim),
                 x -> x * x)))), 6) AS sim
  FROM p CROSS JOIN (SELECT unnest([16, 32, 64]) AS dim) d
), r AS (
  SELECT *, row_number() OVER (PARTITION BY dim, query_id
                               ORDER BY sim DESC, neighbor_id) AS rk
  FROM s
), full1 AS (
  SELECT query_id, neighbor_id AS full_top1 FROM r WHERE dim = 64 AND rk = 1
), full5 AS (
  SELECT query_id, neighbor_id AS n5 FROM r WHERE dim = 64 AND rk <= 5
), trunc AS (
  SELECT dim, query_id, neighbor_id FROM r WHERE dim <> 64 AND rk = 1
)
SELECT CAST(t.dim AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN t.neighbor_id = f.full_top1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_top1_agree,
       CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM full5 x
                                  WHERE x.query_id = t.query_id
                                    AND x.n5 = t.neighbor_id)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_top1_in_full_top5
FROM trunc t JOIN full1 f USING (query_id)
GROUP BY t.dim ORDER BY t.dim
""",
)
def matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation fidelity: retrieval pipelines serve
    PREFIX-truncated embeddings (16 of 64 dims = 4× memory/bandwidth) and
    need to know what that costs BEFORE flipping the switch — for each
    truncated dim, how often the truncated top-1 neighbor equals the
    full-dim top-1, and how often it at least stays in the full top-5
    (the rerank-recoverable case).

    Exact brute force at every dim via the same Arrow matmul sweep as
    ann_topk_queries: per prefix dim, truncate the vectors (THEN
    prefix-normalize — exactly what an MRL serving stack does), broadcast
    the query matrix and stream the corpus through mapInPandas keeping
    within-ROUND_MARGIN-of-chunk-top-k candidates, so per-dim shuffle
    volume is O(k·|queries|) rows whatever the corpus size; the three
    sweeps' winners meet in two tiny id-equality joins and the audit
    output is 2 rows. (An earlier form computed all three sims as
    row-local HOF folds over a broadcast crossJoin — semantically the
    same sweep, but interpreted HOF arithmetic made it ~10 s at sf0.1
    where the vectorized sweeps are ~1 s.) Determinism: the ann
    contract — round(·,6) sims, (sim DESC, neighbor_id) total order.
    """
    emb = load(spark, sf_dir, "embeddings")

    # r13 (guide §1.2): ONE corpus sweep for all three dims instead of three
    # cosine_topk_queries calls. The old form collected the query matrix 3x,
    # scanned the corpus through mapInPandas 3x, and ranked through 3 window
    # exchanges (16 jobs / 34 stages, warm 2.24 s at sf0.1); the fused
    # kernel broadcasts the prefix-normalized query matrices once, computes
    # the three prefix matmuls per Arrow batch (sharing the corpus
    # deserialization), and one window ranks (dim, query). Per-dim math is
    # unchanged: each prefix is sliced THEN normalized (contiguous copies,
    # so the BLAS inputs match the old per-dim scans bit-for-bit), chunk
    # pruning keeps the same per-(batch, dim, query) k+margin band, and the
    # final round/ordering contract is the ann one.
    ranked = _mrl_ranked_sweep(spark, emb).localCheckpoint(eager=True)
    full_dim = MRL_DIMS[-1]
    full1 = ranked.where(
        (F.col("dim") == full_dim) & (F.col("rank") == 1)
    ).select("query_id", F.col("neighbor_id").alias("full_top1"))
    full5 = ranked.where(F.col("dim") == full_dim).select(
        "query_id", F.col("neighbor_id").alias("n5")
    )
    trunc = ranked.where(F.col("dim") != full_dim).select(
        "dim", "query_id", "neighbor_id"
    )
    in5 = (
        trunc.join(full5, "query_id")
        .where(F.col("neighbor_id") == F.col("n5"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n_in5"))
    )
    return (
        trunc.join(full1, "query_id")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                (F.col("neighbor_id") == F.col("full_top1")).cast("long")
            ).alias("n_top1_agree"),
        )
        .join(in5, "dim", "left")
        .select(
            F.col("dim").cast("long").alias("dim"),
            "n_queries",
            "n_top1_agree",
            F.coalesce("n_in5", F.lit(0))
            .cast("long")
            .alias("n_top1_in_full_top5"),
        )
        .orderBy("dim")
    )


# --- E236: hard-negative mining for contrastive/embedding training ------------


#: Scale-adaptive cap on the hard-negative ANCHOR batch (round 9, VERDICT
#: r8 task #3; same engine-portable hash idiom as llm_dedup's
#: BRUTE_SUBSET_CAP). Every base tier keeps all mod-{QUERY_MOD} anchors
#: (sf0.1 has 80 — under the cap, predicate vacuously true, results
#: unchanged); bigger tiers keep a deterministic ~80-anchor subset, so the
#: oracle's anchors×corpus lateral scan stays O(corpus) and the ×10 tier
#: is hash-checkable. Mining over a bounded anchor batch per pass is the
#: production shape anyway (contrastive trainers mine per-batch, not
#: all-anchors-at-once).
HN_ANCHOR_CAP = 80


@query(
    "hard_negative_mining",
    category="L3,E236",
    oracle=f"""
WITH nm AS (SELECT count(*) AS n_mod FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
q AS (
  SELECT vec_id AS query_id, label AS qlabel,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings, nm
  WHERE vec_id % {QUERY_MOD} = 0
    AND ((vec_id % 1000003) * 2654435761) % 100000 * n_mod
        < 100000 * {HN_ANCHOR_CAP}
), c AS (
  SELECT vec_id AS cand_id, label AS clabel,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings
), s AS (
  SELECT query_id, qlabel, cand_id,
         CASE WHEN clabel = qlabel THEN 'pos' ELSE 'neg' END AS cls,
         round(list_sum(list_transform(range(1, 1 + len(qe)), i -> qe[i] * ce[i]))
               / (sqrt(list_sum(list_transform(qe, x -> x * x)))
                  * sqrt(list_sum(list_transform(ce, x -> x * x)))), 6) AS sim
  FROM q, c WHERE query_id != cand_id
), r AS (
  SELECT query_id, qlabel, cls, cand_id, sim,
         row_number() OVER (PARTITION BY query_id, cls
                            ORDER BY sim DESC, cand_id) AS rn
  FROM s
)
SELECT query_id, CAST(qlabel AS INTEGER) AS label,
       max(CASE WHEN cls = 'pos' THEN cand_id END) AS pos_id,
       max(CASE WHEN cls = 'pos' THEN sim END) AS pos_sim,
       max(CASE WHEN cls = 'neg' THEN cand_id END) AS neg_id,
       max(CASE WHEN cls = 'neg' THEN sim END) AS neg_sim,
       max(CASE WHEN cls = 'pos' THEN sim END)
         - max(CASE WHEN cls = 'neg' THEN sim END) AS margin
FROM r WHERE rn = 1
GROUP BY query_id, qlabel
ORDER BY query_id
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per anchor
    (the deterministic query subset), the nearest SAME-label neighbor (the
    hardest positive) and the nearest DIFFERENT-label neighbor (the hard
    negative), plus the training margin pos_sim - neg_sim. This is the
    batch-mining pass a contrastive fine-tune (SimCSE/SBERT-style) runs
    over its corpus each epoch.

    Scale shape: identical to ann_topk_queries — the ANCHOR matrix (the
    bounded query batch) broadcasts with its labels; the corpus streams
    through Arrow-batched mapInPandas doing one numpy matmul per chunk and
    keeping, per (anchor, class), only candidates within ROUND_MARGIN of
    the chunk max — shuffle volume is O(|anchors|) rows per task no matter
    the corpus size. Global argmax + the deterministic (round(sim,6) DESC,
    cand_id) tiebreak happen in Spark expressions so rounding semantics
    match the oracle exactly; the oracle recomputes through a full lateral
    pair scan.
    """
    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") % QUERY_MOD == 0)
    # Scale-adaptive anchor cap (HN_ANCHOR_CAP above): identity at every
    # base tier (≤80 mod-anchors), deterministic ~80-anchor subset beyond
    # — keeps the anchor toPandas() bounded at ANY corpus size and the
    # oracle's lateral scan O(corpus). n_mod is a 1-scalar driver action
    # (bounded-collect idiom); predicate mirrors the oracle CTE exactly.
    n_mod = anchors.count()
    bucket = ((F.col("vec_id") % 1000003) * F.lit(2654435761)) % 100000
    anchors = anchors.where(bucket * F.lit(n_mod) < F.lit(100000 * HN_ANCHOR_CAP))
    bc, _ = broadcast_unit_rows(
        spark, anchors, "vec_id", "embedding", "label", caller="hard_negative_mining"
    )

    out_schema = "query_id long, cls string, cand_id long, sim double"

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_a, na, labels_a = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy().astype(np.int64)
            c_labels = pdf["label"].to_numpy()
            sims = na @ unit_rows(pdf, "embedding").T  # (|anchors|, chunk)
            not_self = ids_a[:, None] != c_ids[None, :]
            same = (labels_a[:, None] == c_labels[None, :]) & not_self
            for cls, valid in (("pos", same), ("neg", ~same & not_self)):
                qi, ci = band_select(sims, valid, 1)
                yield pd.DataFrame(
                    {
                        "query_id": ids_a[qi],
                        "cls": cls,
                        "cand_id": c_ids[ci],
                        "sim": sims[qi, ci],
                    }
                )

    from pyspark.sql.window import Window

    cand = emb.select("vec_id", "label", "embedding").mapInPandas(chunk, out_schema)
    w = Window.partitionBy("query_id", "cls").orderBy(F.desc("sim_r"), F.asc("cand_id"))
    best = (
        cand.select("query_id", "cls", "cand_id", F.round("sim", 6).alias("sim_r"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    labels = anchors.select(
        F.col("vec_id").alias("query_id"), F.col("label").cast("int").alias("label")
    )
    pos = F.when(F.col("cls") == "pos", F.col("cand_id"))
    possim = F.when(F.col("cls") == "pos", F.col("sim_r"))
    neg = F.when(F.col("cls") == "neg", F.col("cand_id"))
    negsim = F.when(F.col("cls") == "neg", F.col("sim_r"))
    return (
        best.groupBy("query_id")
        .agg(
            F.max(pos).alias("pos_id"),
            F.max(possim).alias("pos_sim"),
            F.max(neg).alias("neg_id"),
            F.max(negsim).alias("neg_sim"),
        )
        .join(F.broadcast(labels), "query_id")
        .select(
            "query_id", "label", "pos_id", "pos_sim", "neg_id", "neg_sim",
            (F.col("pos_sim") - F.col("neg_sim")).alias("margin"),
        )
        .orderBy("query_id")
    )


# --- E248: embedding-space benchmark decontamination ---------------------------


#: Registered benchmark embeddings = the fixed id-range vec_id < 40 (the
#: embedding twin of E48's doc_id < 5 benchmark shingle set). Candidate
#: docs whose max cosine vs ANY benchmark anchor clears DECON_TAU are
#: flagged for removal — semantic contamination that survives E48's exact
#: n-gram decontamination (a paraphrased eval item shares no 4-gram but
#: sits next to the benchmark in embedding space). τ = 0.35 sits in the
#: upper tail of the fixture's isotropic cosine distribution (measured
#: max-sim counts: 31 flagged at sf0.001, 38 at sf0.01, 165 at sf0.1 —
#: non-vacuous at every tier, per the round-3 zero-row audit discipline).
DECON_ANCHOR_MAX_ID = 40
DECON_TAU = 0.35


@query(
    "embedding_decontamination",
    category="L2,L3,E248",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
), a AS (
  SELECT vec_id AS anchor_id, ve AS ae FROM e WHERE vec_id < {DECON_ANCHOR_MAX_ID}
), c AS (
  SELECT vec_id, label, ve AS ce FROM e WHERE vec_id >= {DECON_ANCHOR_MAX_ID}
), s AS (
  SELECT c.vec_id, c.label, a.anchor_id,
         round(list_sum(list_transform(range(1, 1 + len(ae)), i -> ae[i] * ce[i]))
               / (sqrt(list_sum(list_transform(ae, x -> x * x)))
                  * sqrt(list_sum(list_transform(ce, x -> x * x)))), 6) AS sim
  FROM c, a
), r AS (
  SELECT vec_id, label, anchor_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, anchor_id) AS rn
  FROM s
)
SELECT vec_id AS cand_id, CAST(label AS INTEGER) AS label,
       anchor_id, sim AS max_sim
FROM r
WHERE rn = 1 AND sim >= {DECON_TAU}
ORDER BY cand_id
""",
)
def embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every candidate
    vector whose max cosine against the registered benchmark anchors
    (vec_id < DECON_ANCHOR_MAX_ID) reaches DECON_TAU, with the offending
    anchor — the SEMANTIC complement to E48's exact-n-gram
    benchmark_decontamination (paraphrased eval leakage shares no n-gram
    but is cosine-close; removing both is standard pretraining hygiene,
    e.g. the SemDeDup/decon pipelines).

    Scale shape (the ann_topk_queries idiom): the benchmark matrix is
    SMALL BY CONSTRUCTION (a registered eval set), so it broadcasts with
    its ids; the corpus streams through ONE Arrow-batched mapInPandas
    doing a numpy matmul per chunk and emitting, per candidate, only the
    anchors within ROUND_MARGIN of that candidate's max — each candidate
    lives in exactly one chunk, so the chunk max IS the global max and
    shuffle volume is O(flagged ties), not O(corpus × anchors). The
    deterministic (round(sim,6) DESC, anchor_id) argmax and the τ cut run
    in Spark expressions so rounding matches the oracle exactly; the
    oracle recomputes through the full lateral pair scan.
    """
    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < DECON_ANCHOR_MAX_ID)
    bc, _ = broadcast_unit_rows(
        spark, anchors, "vec_id", "embedding", caller="embedding_decontamination"
    )

    out_schema = "cand_id long, label long, anchor_id long, sim double"

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_a, na = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            sims = unit_rows(pdf, "embedding") @ na.T  # (chunk, |anchors|)
            ci, ai = band_select(sims, True, 1)
            yield pd.DataFrame(
                {
                    "cand_id": pdf["vec_id"].to_numpy()[ci],
                    "label": pdf["label"].to_numpy()[ci],
                    "anchor_id": ids_a[ai],
                    "sim": sims[ci, ai],
                }
            )

    from pyspark.sql.window import Window

    cand = (
        emb.where(F.col("vec_id") >= DECON_ANCHOR_MAX_ID)
        .select("vec_id", "label", "embedding")
        .mapInPandas(chunk, out_schema)
    )
    w = Window.partitionBy("cand_id").orderBy(F.desc("sim_r"), F.asc("anchor_id"))
    return (
        cand.select("cand_id", "label", "anchor_id", F.round("sim", 6).alias("sim_r"))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("sim_r") >= DECON_TAU))
        .select(
            "cand_id",
            F.col("label").cast("int").alias("label"),
            "anchor_id",
            F.col("sim_r").alias("max_sim"),
        )
        .orderBy("cand_id")
    )


# --- E237: int8 scalar-quantization audit --------------------------------------


@query(
    "sq8_quantization_audit",
    category="L3,E237",
    oracle="""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id, label, e, list_min(e) AS mn, list_max(e) AS mx FROM e
), q AS (
  SELECT vec_id, label, e, mn, mx,
         list_transform(e, x -> CASE WHEN mx = mn THEN 0
             ELSE CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT) END) AS q
  FROM s
)
SELECT vec_id, CAST(label AS INTEGER) AS label,
       CAST(list_sum(list_transform(range(1, 1 + len(q)), i -> q[i] * i)) AS BIGINT) AS q_checksum,
       CAST(len(list_filter(q, x -> x = 0 OR x = 255)) AS BIGINT) AS n_sat,
       CAST(list_sum(list_transform(range(1, 1 + len(e)), i ->
            CAST(floor((e[i] - (mn + q[i] * (mx - mn) / 255.0))
                       * (e[i] - (mn + q[i] * (mx - mn) / 255.0))
                       * 1000000000000.0 + 0.5) AS BIGINT))) AS BIGINT) AS err_q12,
       mn, mx
FROM q
ORDER BY vec_id
""",
)
def sq8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (FAISS SQ8-style) with an EXACT per-vector
    reconstruction-error audit: per vector, min-max affine quantization to
    0..255 codes, then the squared reconstruction error of every element in
    q12 fixed point (floor(err·1e12 + 0.5) per ELEMENT, integer-summed — so
    the emit is order-proof and hash-portable, unlike a float sum whose
    accumulation order varies with partial-agg merge order). n_sat counts
    saturated codes (0/255); q_checksum position-weights the codes so the
    hash pins every code byte and its position.

    Scale shape: pure per-row HOF arithmetic — zero shuffles, zero UDFs,
    scan-shaped at any corpus size; the only exchange is the final ORDER BY.
    Element-wise IEEE double arithmetic with an identical expression tree on
    both engines is bit-deterministic (the flaky class is order-dependent
    SUMS and libm transcendentals, both avoided: squaring is a multiply,
    never pow()). The audit answers the real serving question — how much
    recall budget does 4x compression cost — and feeds the same fixed-point
    comparison pattern as E232's Matryoshka audit.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    s = e.select(
        "vec_id", "label", "e",
        F.array_min("e").alias("mn"), F.array_max("e").alias("mx"),
    )
    q = s.withColumn(
        "q",
        F.expr(
            """transform(e, x -> CASE WHEN mx = mn THEN 0L
                 ELSE CAST(floor((x - mn) * 255.0D / (mx - mn) + 0.5D) AS BIGINT) END)"""
        ),
    )
    return (
        q.select(
            "vec_id", "label",
            F.expr(
                "aggregate(transform(q, (x, i) -> x * (i + 1)), 0L, (a, b) -> a + b)"
            ).alias("q_checksum"),
            F.expr("size(filter(q, x -> x = 0 OR x = 255))")
            .cast("long")
            .alias("n_sat"),
            F.expr(
                """aggregate(zip_with(e, q, (x, qi) ->
                     CAST(floor((x - (mn + qi * (mx - mn) / 255.0D))
                                * (x - (mn + qi * (mx - mn) / 255.0D))
                                * 1000000000000.0D + 0.5D) AS BIGINT)),
                   0L, (a, b) -> a + b)"""
            ).alias("err_q12"),
            "mn", "mx",
        )
        .orderBy("vec_id")
    )


# --- E246: k-center greedy coreset (farthest-point traversal) ------------------

#: Coreset size: the deterministic seed (min vec_id) + 7 greedy picks.
KCENTER_K = 8

_KC_DIST = (
    "list_sum(list_transform(range(1, 1 + len({a})), i -> "
    "({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _kcenter_oracle_sql(k: int) -> str:
    """Unrolled greedy farthest-point traversal: c0 = min vec_id; round r
    picks argmax of the running min-distance (round(·,6) DESC, vec_id ASC —
    the ann determinism contract) and folds its distance into the running
    min for the next round. Each round reads the previous round's d and c
    twice, so both are ``AS MATERIALIZED``: DuckDB inlines a CTE otherwise,
    and the work would double every round."""
    parts = [f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), c0 AS (
  SELECT vec_id, e FROM e ORDER BY vec_id LIMIT 1
), d1 AS MATERIALIZED (
  SELECT e.vec_id, e.e,
         {_KC_DIST.format(a="e.e", b="c0.e")} AS md
  FROM e CROSS JOIN c0
)"""]
    for r in range(1, k):
        prior = " UNION ALL ".join(
            [f"SELECT vec_id FROM c0"] + [f"SELECT vec_id FROM c{j}" for j in range(1, r)]
        )
        parts.append(f""", c{r} AS MATERIALIZED (
  SELECT vec_id, e, md FROM d{r}
  WHERE vec_id NOT IN ({prior})
  ORDER BY round(md, 6) DESC, vec_id LIMIT 1
)""")
        if r < k - 1:
            parts.append(f""", d{r + 1} AS MATERIALIZED (
  SELECT d.vec_id, d.e,
         least(d.md, {_KC_DIST.format(a="d.e", b="c.e")}) AS md
  FROM d{r} d CROSS JOIN c{r} c
)""")
    emits = ["SELECT CAST(0 AS BIGINT) AS rank, vec_id, CAST(0.0 AS DOUBLE) AS dist_q6 FROM c0"]
    for r in range(1, k):
        emits.append(
            f"SELECT CAST({r} AS BIGINT) AS rank, vec_id, round(md, 6) AS dist_q6 FROM c{r}"
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(emits) + "\nORDER BY rank"


@query(
    "kcenter_coreset_select",
    category="L3,E246",
    oracle=_kcenter_oracle_sql(KCENTER_K),
)
def kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset selection (farthest-point traversal — the
    2-approximation of Gonzalez 1985, the standard diversity-maximizing
    data-selection pass for active learning / subset distillation): seed
    with the min vec_id, then k-1 times pick the point FARTHEST from the
    selected set and fold its distances into every point's running
    min-distance. Emits the selection order with each pick's covering
    radius (its min squared distance at pick time, 6dp) — the radius
    sequence is the coreset's quality certificate (max over the corpus of
    d(x, coreset) is at most the last radius).

    Scale shape: the running min-distance column makes each round ONE scan
    of the embeddings (zip_with squared-distance against the single
    broadcast-literal center + least()), never a distance matrix; the
    argmax is a TakeOrderedAndProject and the frame is
    localCheckpoint()ed per round (kmeans idiom, O(1) lineage). Total work
    O(k·n·dims) — the textbook bound. Determinism: both engines fold the
    squared diffs left-to-right over identical doubles; ordering uses the
    ann contract (round(·,6) DESC, vec_id tiebreak).
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    picks = [(0, int(seed["vec_id"]), 0.0)]

    def dist_to(vec) -> F.Column:
        center = F.array(*[F.lit(float(v)) for v in vec])
        return F.aggregate(
            F.zip_with("e", center, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    md = emb.select("vec_id", "e", dist_to(seed["e"]).alias("md")).localCheckpoint(
        eager=True
    )
    chosen = {picks[0][1]}
    for r in range(1, KCENTER_K):
        row = (
            md.where(~F.col("vec_id").isin(*chosen))
            .orderBy(F.desc(F.round("md", 6)), "vec_id")
            .limit(1)
            .select("vec_id", "e", F.round("md", 6).alias("dq"))
            .collect()[0]
        )
        picks.append((r, int(row["vec_id"]), float(row["dq"])))
        chosen.add(int(row["vec_id"]))
        if r < KCENTER_K - 1:
            md = md.select(
                "vec_id", "e",
                F.least("md", dist_to(row["e"])).alias("md"),
            ).localCheckpoint(eager=True)
    return local_frame(
        spark, picks, "rank long, vec_id long, dist_q6 double"
    ).orderBy("rank")
