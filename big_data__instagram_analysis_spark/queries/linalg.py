"""Distributed linear algebra + mergeable counting sketches (E251-E253).

Three operators a 100 TB training-data pipeline leans on:

  * ``countmin_sketch_estimates`` (E251) — the Count-Min sketch, THE
    mergeable frequency sketch: a depth×width integer grid that absorbs
    any corpus with one constant-size shuffle (map-side combinable),
    point estimates never under-count.
  * ``embedding_gram_matrix`` (E252) — the Gram / scatter matrix X^T X,
    the reduction step behind covariance, PCA, linear probes, and ridge
    regression at scale: per-batch d×d outer-product partials in Arrow,
    one (i,j)-keyed agg. Exact-integer (milli-quantized) so the hash
    check is bit-exact across engines.
  * ``gram_power_iteration`` (E253) — the top principal component via
    power iteration over that Gram matrix, in ENTIRELY integer
    arithmetic (scaled trunc-division with sign decomposition), so both
    engines walk identical orbits with zero float divergence.

Everything here is the kmeans/codebook idiom family: the big table is
scanned, the small state (256 sketch cells, 2080 gram entries, a 64-row
eigenvector) is what shuffles or iterates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, local_frame
from ..registry import query

# --- E251: Count-Min sketch ------------------------------------------------

#: Sketch depth (independent hash rows) and width (buckets per row).
CMS_DEPTH = 4
CMS_WIDTH = 64
#: How many true-top tokens get point estimates in the registered query.
CMS_TOPK = 20


def _cms_bucket_spark(r: int, tok):
    """Row-r bucket of a token: first 8 md5 hex digits of 'r:tok' mod width.

    Seedless and engine-recomputable (the E193/E47 md5-bucket idiom): any
    engine — and any rerun on different cluster topology — derives the
    identical sketch.
    """
    h = F.md5(F.concat_ws(":", F.lit(str(r)), tok))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMS_WIDTH).cast(
        "int"
    )


def _cms_bucket_sql_r(tok_expr: str) -> str:
    """DuckDB twin of :func:`_cms_bucket_spark`, parameterized on a row
    variable ``rr.r`` from ``range(CMS_DEPTH) rr(r)``."""
    return (
        f"CAST(CAST(('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || "
        f"{tok_expr}), 1, 8)) AS BIGINT) % {CMS_WIDTH} AS INT)"
    )


@query(
    "countmin_sketch_estimates",
    category="A4,L4,E251",
    oracle=f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
), cells AS (
  SELECT r, {_cms_bucket_sql_r('tok')} AS b, count(*) AS c
  FROM toks, range({CMS_DEPTH}) rr(r)
  GROUP BY r, b
), truth AS (
  SELECT tok, count(*) AS n FROM toks GROUP BY tok
  ORDER BY n DESC, tok LIMIT {CMS_TOPK}
), probes AS (
  SELECT t.tok, t.n, rr.r, {_cms_bucket_sql_r('t.tok')} AS b
  FROM truth t, range({CMS_DEPTH}) rr(r)
), est AS (
  SELECT p.tok, p.n, min(c.c) AS est
  FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
  GROUP BY p.tok, p.n
)
SELECT tok AS token,
       CAST(n AS BIGINT) AS true_n,
       CAST(est AS BIGINT) AS est_n,
       CAST((est - n) * 1000000 // n AS BIGINT) AS over_ppm,
       (est >= n) AS never_undercounts
FROM est
ORDER BY true_n DESC, token
""",
)
def countmin_sketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over corpus token occurrences: a 4×64 integer grid
    where every occurrence increments one bucket per hash row, and a point
    estimate is the MIN across rows — never an undercount (pinned by the
    ``never_undercounts`` column the oracle re-derives), overshoot bounded
    by collisions (~e·N/width per row w.h.p.).

    Why this is THE 100 TB frequency operator: the sketch is a
    map-side-combinable groupBy onto depth×width = 256 cells — the shuffle
    is CONSTANT-size no matter the corpus, and sketches from different
    days/shards/streams merge by cell-wise addition (unlike exact top-k,
    whose state is vocabulary-sized). The registered query then scores the
    exact top-20 tokens against the sketch, emitting the exact integer
    overestimate in ppm — the sketch-quality audit a pipeline runs before
    trusting CMS for heavy-hitter gating.

    Determinism: bucket = first 8 md5 hex digits of ``'r:token'`` mod 64
    (the seedless E193 bucket idiom) — DuckDB rebuilds the identical grid
    and identical estimates, so the hash check covers hashing, gridding,
    merging, and the min-combine.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok")
    )
    # Round 13 (guide §1.2/§2.3): cells and truth each re-exploded the
    # corpus, and the grid paid 4 md5s PER OCCURRENCE. Both now ride ONE
    # vocabulary aggregate (lazily checkpointed): the grid is
    # sum-of-token-counts per (r, bucket) — identical integers, md5 cost
    # drops to 4 per DISTINCT token (vocab ~ n^0.5 at corpus scale). The
    # production sketch ingests occurrences map-side, but the AUDIT needs
    # the vocab counts anyway for truth — one pass serves both.
    freq = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cells = (
        freq.select(
            "n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cms_bucket_spark(r, F.col("tok")).alias("b"),
                        )
                        for r in range(CMS_DEPTH)
                    ]
                )
            ).alias("rb"),
        )
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.sum("n").alias("c"))
    )
    truth = freq.orderBy(F.desc("n"), "tok").limit(CMS_TOPK)
    # Probe: each top token joins its 4 cells; est = min cell count.
    probes = truth.select(
        "tok",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket_spark(r, F.col("tok")).alias("b"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select("tok", "n", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    est = (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("tok", "n")
        .agg(F.min("c").alias("est"))
    )
    return est.select(
        F.col("tok").alias("token"),
        F.col("n").cast("bigint").alias("true_n"),
        F.col("est").cast("bigint").alias("est_n"),
        F.expr("(est - n) * 1000000 DIV n").cast("bigint").alias("over_ppm"),
        (F.col("est") >= F.col("n")).alias("never_undercounts"),
    ).orderBy(F.desc("true_n"), "token")


# --- E252: exact-integer Gram matrix ----------------------------------------

#: Embedding dimensionality of the fixture vectors.
GRAM_DIM = 64
#: Milli-quantization: q = floor(x * 1000). float32 -> double is exact and
#: x*1000 keeps <= 34 mantissa bits, so floor() is bit-identical on both
#: engines; all downstream arithmetic is then exact int64.
GRAM_SCALE = 1000

_GRAM_SCHEMA = "i int, j int, g long"


def _gram_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-Arrow-batch Gram partial: Q^T Q upper triangle, 2080 rows out.

    int64 throughout: |q| <= ~4e3 ((unit-scale fixture values) * 1e3), so a
    10k-row batch bounds each cell at ~1.6e11 — far from overflow; the
    cross-batch SUM is the groupBy's job.
    """
    iu, ju = np.triu_indices(GRAM_DIM)
    for pdf in batches:
        if not len(pdf):
            continue
        x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        q = np.floor(x * GRAM_SCALE).astype(np.int64)
        g = q.T @ q
        yield pd.DataFrame(
            {
                "i": iu.astype(np.int32),
                "j": ju.astype(np.int32),
                "g": g[iu, ju],
            }
        )


@query(
    "embedding_gram_matrix",
    category="L3,U4,E252",
    oracle=f"""
WITH q AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {GRAM_SCALE}) AS BIGINT) AS qi
  FROM embeddings, range(1, {GRAM_DIM + 1}) r(i)
)
SELECT a.i AS i, b.i AS j, CAST(sum(a.qi * b.qi) AS BIGINT) AS g
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY a.i, b.i
ORDER BY i, j
""",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram (scatter) matrix G = Q^T Q over the embedding
    corpus — the one-pass reduction that PCA, covariance, whitening,
    linear probes, and ridge regression all start from. MLlib's
    RowMatrix.computeGramianMatrix is the same shape; here it is expressed
    as mapInPandas partials + a tiny keyed agg so the full plan stays in
    the DataFrame API.

    Exact integers end-to-end: vectors are milli-quantized (floor(x*1000)
    — exact in double for float32 inputs, see GRAM_SCALE), so every one of
    the 2080 upper-triangle cells is a bit-exact int64 both engines agree
    on — no float-summation order anywhere.

    Scale: each Arrow batch emits ONE d(d+1)/2-row partial (numpy int64
    matmul — vectorized, never per-element Python), so the shuffle is
    O(#batches · d²) regardless of corpus row count, and the final
    groupBy(i,j).sum is map-side combinable. That is the canonical
    100 TB dense-reduction shape: data-parallel partials, constant-size
    merge state. The oracle rebuilds every cell from the raw vectors via
    a positional self-join.
    """
    e = load(spark, sf_dir, "embeddings")
    partials = e.select("embedding").mapInPandas(_gram_partials, _GRAM_SCHEMA)
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("g").cast("bigint").alias("g"))
        .orderBy("i", "j")
    )


# --- E253: float-free power iteration on the Gram matrix --------------------

#: Fixed power-iteration rounds (convergence is geometric in the spectral
#: gap; 8 rounds pins the demo orbit deterministically).
POWER_ITERS = 8
#: Eigenvector normalization scale: after each round the vector is
#: renormalized to max|x| = POWER_NORM by exact integer division.
POWER_NORM = 10_000


def _power_step_sql(k: int) -> str:
    """One integer power-iteration round as chained-CTE SQL (DuckDB).

    y is read twice in its round (by m and x), and DuckDB inlines a CTE
    into each reader, so an inlined chain doubles its work every round:
    y and x, the round's output, are ``AS MATERIALIZED``."""
    return f""", y{k} AS MATERIALIZED (
  SELECT g.i AS i, sum(g.v * x{k - 1}.x) AS y
  FROM gfull g JOIN x{k - 1} ON g.j = x{k - 1}.i
  GROUP BY g.i
), m{k} AS (
  SELECT greatest(max(abs(y)) // {POWER_NORM}, 1) AS m FROM y{k}
), x{k} AS MATERIALIZED (
  SELECT i, CAST(CASE WHEN y >= 0 THEN y // m ELSE -((-y) // m) END AS BIGINT)
           AS x
  FROM y{k}, m{k}
)"""


def _power_oracle() -> str:
    steps = "".join(_power_step_sql(k) for k in range(1, POWER_ITERS + 1))
    return f"""
WITH q AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {GRAM_SCALE}) AS BIGINT) AS qi
  FROM embeddings, range(1, {GRAM_DIM + 1}) r(i)
), gfull AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.qi * b.qi) AS BIGINT) AS v
  FROM q a JOIN q b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
), x0 AS (
  SELECT CAST(i AS INT) AS i, CAST({POWER_NORM} AS BIGINT) AS x
  FROM range({GRAM_DIM}) r(i)
){steps}, sgn AS (
  SELECT CASE WHEN min_by(x, i) < 0 THEN -1 ELSE 1 END AS s
  FROM x{POWER_ITERS} WHERE x <> 0
)
SELECT CAST(x{POWER_ITERS}.i AS INT) AS pos,
       CAST(x{POWER_ITERS}.x * s AS BIGINT) AS loading
FROM x{POWER_ITERS}, sgn
ORDER BY pos
"""


@query("gram_power_iteration", category="L3,E253", oracle=_power_oracle())
def gram_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by power iteration
    over the E252 Gram matrix — 8 rounds of x ← G·x with max-abs
    renormalization, in ENTIRELY integer arithmetic: the Gram cells are
    exact int64 (milli-quantized inputs), and each renormalize is
    truncating division by greatest(max|y| // 10000, 1) with an explicit
    sign decomposition (-((-y)//m)) so Spark's `div` and DuckDB's `//`
    agree on negatives. Both engines therefore walk the BIT-IDENTICAL
    orbit — no round-6 tolerance anywhere in an 8-round feedback loop,
    where per-round float drift would compound.

    Overflow audit (why this survives 100 TB row counts): |G| ≤ N·(4e3)²
    = 1.6e7·N, |x| ≤ 1e4, so |y| ≤ 64·|G|·1e4 ≈ 1e13·N — int64-safe to
    N ≈ 9e5 at milli-scale and re-scalable by GRAM_SCALE for more (the
    corpus size enters G linearly, never the iteration).

    Scale: the corpus is touched ONCE (the E252 mapInPandas partials);
    the iteration then runs on data bounded by the embedding DIMENSION —
    d(d+1)/2 = 2,080 Gram cells and a 64-long vector — so it is a bounded
    driver fold (the kmeans/exact-selection idiom: collect size is a
    constant in corpus size). r12 (guide §1.2/§5): the rounds previously
    ran DISTRIBUTED — a broadcast join + 64-group agg + eager
    localCheckpoint per round, ~49 scheduler jobs / 85 stages for 64-row
    data (measured sf0.1) — pure scheduling overhead at any scale, since
    the per-round data never grows with the corpus. The fold walks the
    bit-identical integer orbit (same sign-decomposed truncating div;
    Python ints are exact at these int64-safe magnitudes, see the
    overflow audit above). The final sign canonicalization (first nonzero
    loading > 0) makes the eigenvector unique. This is how one computes
    PCA directions when X is 100 TB: reduce to G once, iterate on d×d.

    Convergence honesty: the fixture corpus is near-isotropic (λ1/λ2 ≈
    1.02), so 8 rounds pin the deterministic ORBIT and a Rayleigh quotient
    ≈ 0.9·λ1, not the final direction; on a gapped spectrum the same 8
    rounds recover the top PC to cos > 0.999 (both proven in
    tests/test_linalg.py — spiked-corpus end-to-end). POWER_ITERS is the
    knob; rounds cost O(d²) each, independent of corpus size.
    """
    e = load(spark, sf_dir, "embeddings")
    partials = e.select("embedding").mapInPandas(_gram_partials, _GRAM_SCHEMA)
    upper = partials.groupBy("i", "j").agg(F.sum("g").alias("v"))
    # Bounded driver fold: ≤ d(d+1)/2 = 2,080 cells regardless of corpus
    # size (the distributed part above already reduced the corpus away).
    # NOTE (ADVICE r12): the fold executes the corpus scan + Gram reduce
    # EAGERLY at query-construction time — callers that only build the
    # plan still pay the scan, and input errors surface here.
    cells = upper.collect()
    if not cells:
        # Degenerate empty corpus: the oracle's recursive CTE chain yields
        # 0 rows (its y1 join against an empty Gram is empty), so the
        # engine must too — not 64 zero loadings (ADVICE r12).
        return local_frame(spark, [], "pos int, loading long")
    G: dict = {}
    for row in cells:
        G[(row["i"], row["j"])] = row["v"]
        if row["i"] != row["j"]:
            G[(row["j"], row["i"])] = row["v"]
    x = [POWER_NORM] * GRAM_DIM
    for _ in range(POWER_ITERS):
        y = [
            sum(G.get((i, j), 0) * x[j] for j in range(GRAM_DIM))
            for i in range(GRAM_DIM)
        ]
        m = max(max(abs(v) for v in y) // POWER_NORM, 1)
        # Sign-decomposed truncating division — identical to the previous
        # Spark `CASE WHEN y >= 0 THEN y DIV m ELSE -((-y) DIV m) END` and
        # to the oracle's // spelling (both operands non-negative per arm).
        x = [(v // m) if v >= 0 else -((-v) // m) for v in y]
    s = 1
    for xi in x:
        if xi != 0:
            s = -1 if xi < 0 else 1
            break
    return local_frame(
        spark,
        [(i, x[i] * s) for i in range(GRAM_DIM)], "pos int, loading long"
    ).orderBy("pos")
