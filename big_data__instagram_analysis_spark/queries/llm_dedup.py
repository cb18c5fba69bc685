"""Dedup queries (SURVEY.md §2.10 L1, L2 + mandated variants: SimHash,
n-gram Jaccard, embedding-cosine near-dup). MinHash-LSH is hash-checked via
the certified-exact-Jaccard pattern (see its docstring) and additionally
property-tested in tests/test_properties.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load, local_frame
from ..operators.dedup import (
    SIMHASH_BITS,
    exact_dedup,
    materialized_shingles,
    minhash_verified_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    normalize_text,
    shingle_pair_counts,
    shingle_pair_ppm,
    simhash,
    simhash_neardup_pairs,
)
from ..registry import query


@query(
    "exact_dedup_docs",
    category="L1,P5",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         sha256(trim(regexp_replace(lower(text), '[ \\t\\r\\n\\x0B\\f]+', ' ', 'g'))) AS content_hash
  FROM documents
)
SELECT min(doc_id) AS doc_id, content_hash, count(*) AS n_copies
FROM norm
GROUP BY content_hash
""",
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize (lower/trim/collapse-ws) → sha256 → min-id
    survivor per hash group (operators/dedup.py)."""
    d = load(spark, sf_dir, "documents")
    return exact_dedup(d, text_col="text", id_col="doc_id")


# --- E249: per-source dedup savings report -------------------------------------


@query(
    "dedup_savings_by_source",
    category="L1,L8,E249",
    oracle="""
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok,
         sha256(trim(regexp_replace(lower(text), '[ \\t\\r\\n\\x0B\\f]+', ' ', 'g'))) AS h
  FROM documents
), f AS (
  SELECT source, n_tok,
         (doc_id = min(doc_id) OVER (PARTITION BY h)) AS is_surv
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_before,
       CAST(sum(CASE WHEN is_surv THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
       CAST(sum(n_tok) AS BIGINT) AS tokens_before,
       CAST(sum(CASE WHEN is_surv THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_after,
       CAST((sum(n_tok) - sum(CASE WHEN is_surv THEN n_tok ELSE 0 END)) * 1000000
            // nullif(sum(n_tok), 0) AS BIGINT) AS token_savings_ppm
FROM f
GROUP BY source
ORDER BY source
""",
)
def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-dedup savings report: docs and TOKENS before/after
    keeping one survivor (min doc_id) per normalized-content hash group —
    the number a training-data pipeline actually budgets by ("how many
    tokens does source X really contribute after dedup?"), and the
    standard per-source duplication health metric next to E243's cluster
    histogram.

    Uses the L1 normalization contract (lower/trim/collapse-ws → sha256;
    operators/dedup.py) so "duplicate" means the same thing across the
    dedup surface. Survivor attribution: a cluster spanning sources
    credits its tokens to the SURVIVOR's source (min doc_id) — the
    accounting that matches what a keep-list actually ships. Savings in
    integer ppm (bigint multiply-then-div, both engines — no float
    division). Plan: one window over the hash shuffle (no join — the
    survivor flag is min(doc_id) OVER (PARTITION BY h)) then a map-side-
    combinable per-source agg; at 100 TB that's one content-hash exchange,
    the same cost exact dedup itself pays.

    NOTE: each engine computes the hash with its own sha256 — the hash is
    a GROUPING key only (never emitted), so cross-engine equality of the
    digest doesn't matter, only injectivity on normalized texts.
    """
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit("")))
    h = F.sha2(normalize_text(F.col("text")), 256)
    t = d.select("doc_id", "source", n_tok.alias("n_tok"), h.alias("h"))
    w = Window.partitionBy("h")
    f = t.select(
        "source",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_surv"),
    )
    kept_tok = F.sum(F.when(F.col("is_surv"), F.col("n_tok")).otherwise(F.lit(0)))
    tot_tok = F.sum("n_tok")
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_before"),
            F.sum(F.when(F.col("is_surv"), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_after"),
            tot_tok.cast("bigint").alias("tokens_before"),
            kept_tok.cast("bigint").alias("tokens_after"),
            ((tot_tok - kept_tok) * 1000000)
            .cast("bigint")
            .alias("_sav_num"),
        )
        .select(
            "source",
            "docs_before",
            "docs_after",
            "tokens_before",
            "tokens_after",
            # nullif: a source whose docs all tokenize empty must yield NULL
            # savings, not an ANSI DIVIDE_BY_ZERO that kills every source.
            F.expr("_sav_num div nullif(tokens_before, 0)").alias(
                "token_savings_ppm"
            ),
        )
        .orderBy("source")
    )


@query(
    "ngram_jaccard_neardup",
    tags=("llm_bench",),
    category="L2",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(shared * 1.0 / (x.n_sh + y.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes x ON doc_a = x.doc_id
JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 1.0 / (x.n_sh + y.n_sh - shared) >= 0.5
""",
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via shared-shingle
    equi-join candidate generation (operators/dedup.py)."""
    d = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.5)


@query(
    "simhash_docs",
    category="L2",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
  FROM documents
), hashed AS (
  SELECT doc_id, md5(t) AS h FROM tok
), bits AS (
  SELECT b, b // 4 + 1 AS char_pos,
         (1 << (b % 4)) AS wb_pow,
         (CAST(1 AS BIGINT) << b) AS pow2
  FROM range({SIMHASH_BITS}) AS r(b)
), votes AS (
  SELECT doc_id, b, pow2,
         ((strpos('0123456789abcdef', substr(h, char_pos, 1)) - 1) // wb_pow) % 2 * 2 - 1 AS vote
  FROM hashed CROSS JOIN bits
), bit_sums AS (
  SELECT doc_id, b, pow2, sum(vote) AS v FROM votes GROUP BY doc_id, b, pow2
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN pow2 ELSE 0 END) AS BIGINT) AS simhash
FROM bit_sums
GROUP BY doc_id
""",
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document (operators/dedup.py):
    md5-derived bit votes with exact integer math on both engines."""
    d = load(spark, sf_dir, "documents")
    return simhash(d, spark, text_col="text", id_col="doc_id")


@query(
    "simhash_neardup_pairs",
    tags=("llm_bench",),
    category="L2",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
  FROM documents
), hashed AS (
  SELECT doc_id, md5(t) AS h FROM tok
), bits AS (
  SELECT b, b // 4 + 1 AS char_pos,
         (1 << (b % 4)) AS wb_pow,
         (CAST(1 AS BIGINT) << b) AS pow2
  FROM range({SIMHASH_BITS}) AS r(b)
), votes AS (
  SELECT doc_id, b, pow2,
         ((strpos('0123456789abcdef', substr(h, char_pos, 1)) - 1) // wb_pow) % 2 * 2 - 1 AS vote
  FROM hashed CROSS JOIN bits
), bit_sums AS (
  SELECT doc_id, b, pow2, sum(vote) AS v FROM votes GROUP BY doc_id, b, pow2
), sh AS (
  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN pow2 ELSE 0 END) AS BIGINT) AS simhash
  FROM bit_sums GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def simhash_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3. Spark side uses banded LSH
    candidate generation (4 bands × 15 bits — pigeonhole-COMPLETE for
    Hamming ≤ 3: a differing-bit budget of 3 cannot touch all 4 bands);
    oracle is the plain quadratic scan — results must be identical."""
    d = load(spark, sf_dir, "documents")
    sh = simhash(d, spark, text_col="text", id_col="doc_id")
    return simhash_neardup_pairs(sh, max_hamming=3)


@query(
    "minhash_lsh_neardup",
    tags=("llm_bench",),
    category="L2",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(shared * 1.0 / (x.n_sh + y.n_sh - shared), 6) AS jaccard,
       TRUE AS lsh_found
FROM shared
JOIN sizes x ON doc_a = x.doc_id
JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 1.0 / (x.n_sh + y.n_sh - shared) >= 0.5
""",
)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs in pure DataFrame algebra, CERTIFIED
    against exact Jaccard.

    The scale path for Jaccard dedup — banding makes candidate generation
    sub-quadratic (only bucket-collision pairs meet). The pipeline —
    MINHASH_TABLES xxhash64 minima per document, the (band, val)
    self-join, the exact size-ratio prune and the exact shared-shingle
    verify — is operators/dedup.minhash_verified_pairs; this query keeps
    the pairs with exact Jaccard ≥ 0.5.

    Rounds 1-3 used pyspark.ml's MinHashLSH.approxSimilarityJoin — same
    banding structure but measured 10 s of the query's 11.4 s at sf0.1
    (vector-type overhead + a non-codegen keyDistance UDF over every of
    the ~82k candidate pairs, plus HOF shingling recomputed per consumer);
    this plain-DataFrame form runs the identical contract with every
    operator inside whole-stage codegen (2.3 s in rounds 4-8; round 9
    added the size-ratio prune + shuffled-hash verify, PERF.md §52;
    round 10 parallelized the bench-tier scan, SHJ'd the band join and
    flipped the first verify build side — 2.63 → 1.9 s ABAB at sf0.1,
    PERF.md §56).

    Raw LSH candidates are not hash-checkable (hash choice is
    engine-internal), so the certified-tolerance pattern applies: the
    oracle recomputes the exact ≥0.5 pair set in SQL — a hash match
    certifies BOTH precision (the exact filter guarantees emitted pairs
    are truly ≥ threshold) and recall (a candidate-generation miss would
    drop a row and fail rows_match; see operators/dedup.MINHASH_TABLES).

    Sampling/recall statistics are additionally property-tested in
    tests/test_properties.py against ngram_jaccard_pairs ground truth.
    """
    d = load(spark, sf_dir, "documents")
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        minhash_verified_pairs(materialized_shingles(d))
        .where(jac >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 6).alias("jaccard"),
            F.lit(True).alias("lsh_found"),
        )
        .orderBy("doc_a", "doc_b")
    )


#: Scale-adaptive cap on the brute-force pair space (round 9, VERDICT r8
#: task #3). Whenever |embeddings| ≤ BRUTE_SUBSET_CAP the subset predicate
#: is vacuously true and the query is the EXACT full all-pairs computation
#: (every base tier: sf0.1 has 2000 vectors). Above the cap, both engines
#: keep the same deterministic ~BRUTE_SUBSET_CAP-vector subset via the
#: repo's engine-portable multiplicative hash (dataset_split_assign idiom:
#: mod-reduce by the prime 1000003 BEFORE the Knuth multiply so the
#: product stays < 2^63 for any bigint id — Spark would wrap silently
#: where DuckDB raises). This is how a brute-force baseline is actually
#: run at corpus scale — as a bounded sampled audit — and it makes the
#: ×10-tier DuckDB oracle affordable (~2M pairs instead of 200M+).
BRUTE_SUBSET_CAP = 2048


@query(
    "embedding_cosine_neardup",
    category="L2,L3,E9",
    oracle=f"""
WITH n AS (SELECT count(*) AS n_vec FROM embeddings),
sub AS (
  SELECT vec_id, embedding FROM embeddings, n
  WHERE ((vec_id % 1000003) * 2654435761) % 100000 * n_vec
        < 100000 * {BRUTE_SUBSET_CAP}
), p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_transform(a.embedding, x -> CAST(x AS DOUBLE)) AS ea,
         list_transform(b.embedding, x -> CAST(x AS DOUBLE)) AS eb
  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
), s AS (
  SELECT vec_a, vec_b,
         list_sum(list_transform(range(1, 1 + len(ea)), i -> ea[i] * eb[i])) AS dot,
         sqrt(list_sum(list_transform(ea, x -> x * x))) AS na,
         sqrt(list_sum(list_transform(eb, x -> x * x))) AS nb
  FROM p
)
SELECT vec_a, vec_b, round(dot / (na * nb), 6) AS sim
FROM s
WHERE round(dot / (na * nb), 6) >= 0.4
""",
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: all pairs with cosine ≥ 0.4.

    Two-phase operator (operators/similarity.py cosine_threshold_pairs):
    numpy matmul candidate generation under a safety margin, then a
    bit-exact HOF recompute on the surviving pairs only — oracle-hash-equal
    to DuckDB while the quadratic pair space stays vectorized (the pure-HOF
    form measured 78 s at sf0.1; this runs in ~2 s). Threshold 0.4 sits in
    the upper tail of the fixture's isotropic similarity distribution
    (measured max 0.479 at sf0.001, 0.513 at sf0.01) — the original 0.55
    exceeded the max at EVERY SF, so the green hash was an empty-vs-empty
    comparison proving nothing (found in the round-3 zero-row audit;
    59 pairs at sf0.01 now).

    Round 9: the pair space is bounded by BRUTE_SUBSET_CAP above — exact
    full all-pairs at every base tier (n ≤ 2048), deterministic
    ~2048-vector subset beyond, so the ×10 synth tier is hash-checkable
    against the same oracle (VERDICT r8 task #3). The unbounded scale
    paths for this semantics are ann_lsh_bucketed / semantic_dedup_clusters."""
    from ..operators.similarity import cosine_threshold_pairs

    e = load(spark, sf_dir, "embeddings")
    # Scale-adaptive deterministic subset (see BRUTE_SUBSET_CAP): identity
    # whenever n ≤ cap, ~cap vectors above it. n is a 1-scalar driver
    # action (the bounded-collect idiom); the predicate mirrors the oracle
    # CTE exactly. Integer-only arithmetic: bucket(≤1e5) × n stays under
    # 2^63 up to n ≈ 9e13 rows.
    n_vec = e.count()
    bucket = ((F.col("vec_id") % 1000003) * F.lit(2654435761)) % 100000
    sub = e.where(bucket * F.lit(n_vec) < F.lit(100000 * BRUTE_SUBSET_CAP))
    return cosine_threshold_pairs(sub, spark, threshold=0.4)


@query(
    "neardup_cc_clusters",
    tags=("llm_bench",),
    category="L2,E12",
    oracle="""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
  WHERE shared * 1.0 / (x.n_sh + y.n_sh - shared) >= 0.5
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
), label AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
), labeled AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN label l ON d.doc_id = l.doc_id
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       (doc_id = cluster_id) AS is_canonical
FROM labeled
ORDER BY doc_id
""",
)
def neardup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: close the 3-gram Jaccard pair graph (threshold
    0.5) into components and label every document with its cluster.

    The pipeline step after pair generation: pairs alone can't drive dedup
    because near-duplication is not transitive-closed (A≈B, B≈C but A≉C
    chains are common in crawl data) — the survivor set must be one doc per
    *component*. Components come from operators/graph.py (alternating
    large-star/small-star, O(log n) shuffle rounds — diameter-independent,
    unlike min-label propagation); the oracle recomputes them with a
    recursive-CTE transitive closure, tractable at oracle scale only.
    Canonical = min doc_id per cluster; singletons are their own cluster.
    """
    from ..operators.graph import attach_components

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5).select("doc_a", "doc_b")
    labeled = attach_components(
        d.select("doc_id"), pairs, "doc_id", src="doc_a", dst="doc_b"
    )
    w = Window.partitionBy("component")
    return (
        labeled.select(
            "doc_id",
            F.col("component").alias("cluster_id"),
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            (F.col("doc_id") == F.col("component")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


# --- E185 (extension): asymmetric containment near-dup ------------------------


@query(
    "containment_neardup_pairs",
    tags=("llm_bench",),
    category="L2,E185",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CASE WHEN x.n_sh <= y.n_sh THEN doc_a ELSE doc_b END AS doc_small,
       CASE WHEN x.n_sh <= y.n_sh THEN doc_b ELSE doc_a END AS doc_big,
       round(shared * 1.0 / least(x.n_sh, y.n_sh), 6) AS containment,
       round(shared * 1.0 / (x.n_sh + y.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes x ON doc_a = x.doc_id
JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 1.0 / least(x.n_sh, y.n_sh) >= 0.8
ORDER BY doc_small, doc_big
""",
)
def containment_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.py
    ngram_containment_pairs): shared/|smaller| ≥ 0.8 flags quotes,
    excerpts and boilerplate-wrapped copies whose symmetric Jaccard is
    tiny — the criterion CCNet/RefinedWeb-style pipelines apply after
    Jaccard. Jaccard is emitted alongside to show the gap. Same
    shared-shingle equi-join candidate generation as L2's Jaccard pairs —
    sub-quadratic, skew-splittable.
    """
    d = load(spark, sf_dir, "documents")
    return ngram_containment_pairs(d, n=3, threshold=0.8).orderBy(
        "doc_small", "doc_big"
    )


@query(
    "neardup_threshold_sweep",
    category="L2,E243",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pm AS (
  SELECT shared * 1000 // (x.n_sh + y.n_sh - shared) AS jac_pm
  FROM shared
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
)
SELECT CAST(least(9, jac_pm // 100) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(jac_pm) AS BIGINT) AS min_jac_pm,
       CAST(max(jac_pm) AS BIGINT) AS max_jac_pm
FROM pm
GROUP BY decile
ORDER BY decile
""",
)
def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-tuning sweep: the similarity HISTOGRAM over every
    shared-shingle candidate pair, in exact integer permille buckets — the
    diagnostic you run BEFORE picking the near-dup cutoff (is there a
    bimodal gap between boilerplate-level and duplicate-level similarity?
    how many pairs does each candidate threshold admit?). Every fixed-cut
    operator in this module (jaccard >= 0.5, containment >= 0.8) is
    downstream of exactly this curve.

    Scale shape: identical candidate generation to ngram_jaccard_neardup
    (shared-shingle equi-join — only docs sharing a shingle ever meet, AQE
    splits hot-shingle skew), but the emit collapses to <= 10 decile rows
    through a map-side-combined aggregate, so the sweep costs the same one
    pair-shuffle the thresholded query already pays — no extra scan, no
    pair materialization past the partial agg. Pure integer arithmetic end
    to end (shared*1000 DIV union): no float bucket-boundary flakiness by
    construction.
    """
    d = load(spark, sf_dir, "documents")
    pm = shingle_pair_counts(materialized_shingles(d)).select(
        F.expr("shared * 1000 DIV (na + nb - shared)").alias("jac_pm")
    )
    return (
        pm.groupBy(F.expr("least(9, jac_pm DIV 100)").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("jac_pm").cast("long").alias("min_jac_pm"),
            F.max("jac_pm").cast("long").alias("max_jac_pm"),
        )
        .orderBy("decile")
    )


# --- E270: sorted-neighborhood near-dup blocking (SNM) -----------------------

#: Normalized-key prefix (chars) two sorted neighbors must share to become
#: a candidate pair, and the block key width that bounds each window sort.
SNM_PREFIX = 16
SNM_BLOCK = 2


@query(
    "sorted_neighborhood_neardup",
    category="L2,E270",
    oracle=f"""
WITH k AS (
  SELECT doc_id, replace(lower(text), ' ', '') AS key,
         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
  FROM documents
), o AS (
  SELECT doc_id, key, toks,
         lag(doc_id) OVER w AS p_doc,
         lag(key)    OVER w AS p_key,
         lag(toks)   OVER w AS p_toks
  FROM k WINDOW w AS (PARTITION BY substr(key, 1, {SNM_BLOCK})
                      ORDER BY key, doc_id)
)
SELECT p_doc AS doc_a, doc_id AS doc_b,
       CAST(len(list_distinct(list_intersect(toks, p_toks))) * 1000000
            // len(list_distinct(list_concat(toks, p_toks))) AS BIGINT) AS jac_ppm
FROM o
WHERE p_doc IS NOT NULL
  AND substr(key, 1, {SNM_PREFIX}) = substr(p_key, 1, {SNM_PREFIX})
ORDER BY doc_a, doc_b
""",
)
def sorted_neighborhood_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup candidates: the third blocking
    family next to MinHash banding (L2) and SimHash pigeonholing — sort by
    a normalized key and compare only ADJACENT docs, the classic
    record-linkage method (Hernández & Stolfo 1995) that catches
    shared-prefix near-dups with zero hashing and zero pair joins.

    Pair generation is a lag() window: each doc meets only its sort
    predecessor, so candidates are ≤ |docs| rows by construction — no
    quadratic anything. The window partitions on the first {SNM_BLOCK}
    key chars, so at 100 TB the sort is many independent block sorts
    (the repo's no-global-window rule); the documented SNM tradeoff —
    a near-dup pair split across a block boundary is missed — is the
    price of that boundedness, and prefix-divergent near-dups are
    exactly what the MinHash path (minhash_lsh_neardup) exists for.

    The emitted evidence is EXACT: distinct-token Jaccard in integer ppm
    (|∩|·10⁶ div |∪|), computed IN-ROW from the lagged token arrays —
    array_intersect/array_union against the lag()'d neighbor, no join,
    no shuffle beyond the block window itself.
    """
    d = load(spark, sf_dir, "documents")
    key = F.expr("replace(lower(text), ' ', '')")
    toks = F.array_distinct(F.filter(F.split("text", " "), lambda t: t != ""))
    k = d.select("doc_id", key.alias("key"), toks.alias("toks"))
    w = Window.partitionBy(F.substring("key", 1, SNM_BLOCK)).orderBy(
        "key", "doc_id"
    )
    o = k.select(
        "doc_id",
        "key",
        "toks",
        F.lag("doc_id").over(w).alias("p_doc"),
        F.lag("key").over(w).alias("p_key"),
        F.lag("toks").over(w).alias("p_toks"),
    )
    # BIGINT-promote BEFORE the *1e6 multiply: size() is INT and with ANSI
    # mode pinned on (session.py) an adjacent pair sharing >2147 distinct
    # tokens would raise ARITHMETIC_OVERFLOW on a 32-bit multiply while the
    # DuckDB oracle (BIGINT len()) succeeds — the engine-vs-oracle overflow
    # divergence class documented at llm_text.py's charclass census.
    inter = F.size(F.array_intersect("toks", "p_toks")).cast("bigint")
    uni = F.size(F.array_union("toks", "p_toks")).cast("bigint")
    return (
        o.where(
            F.col("p_doc").isNotNull()
            & (
                F.substring("key", 1, SNM_PREFIX)
                == F.substring("p_key", 1, SNM_PREFIX)
            )
        )
        .select(
            F.col("p_doc").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            inter.alias("_i"),
            uni.alias("_u"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("_i * 1000000 div _u").alias("jac_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- E272: cross-source duplication overlap matrix ---------------------------


@query(
    "source_overlap_matrix",
    category="L2,L8,E272",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT doc_a, doc_b,
         shared * 1000000 // (x.n_sh + y.n_sh - shared) AS jac_ppm
  FROM shared
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
  WHERE shared * 2 >= x.n_sh + y.n_sh - shared
), lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         p.doc_a, p.doc_b, p.jac_ppm
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT doc_a) + count(DISTINCT doc_b) AS BIGINT)
         AS docs_involved,
       CAST(min(jac_ppm) AS BIGINT) AS min_jac_ppm,
       CAST(max(jac_ppm) AS BIGINT) AS max_jac_ppm,
       CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_jac_ppm
FROM lab
GROUP BY source_a, source_b
ORDER BY source_a, source_b
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication overlap matrix: near-dup pair counts per
    (source, source) cell — the dedup-governance readout that tells a
    corpus owner WHICH crawls duplicate each other (mirror sites, scraped
    re-posts, vendor feeds reselling the same pages) vs which only
    self-duplicate, and therefore where a cross-source dedup pass will
    actually reclaim tokens.

    Built on the exact shared-shingle pair machinery (the L2
    ngram-Jaccard contract, threshold ≥ 0.5 via the integer
    cross-multiplied predicate — no float division in the filter), then
    two dimension joins to label each pair with its docs' sources,
    canonicalized least/greatest so the matrix is upper-triangular
    regardless of doc-id order. Every emitted stat is integer-exact
    (ppm via multiply-then-div; mean as sum div count — no float agg
    anywhere, so no merge-order sensitivity). Pair volume is the L2
    candidate set (sub-quadratic by the shared-shingle equi-join), and
    the matrix itself is ≤ |sources|² rows.
    """
    d = load(spark, sf_dir, "documents")
    pairs = shingle_pair_ppm(d, n=3).where("is_edge").select(
        "doc_a", "doc_b", "jac_ppm"
    )
    src = d.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "doc_a",
            "doc_b",
            "jac_ppm",
        )
    )
    return (
        lab.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.countDistinct("doc_a") + F.countDistinct("doc_b"))
            .cast("long")
            .alias("docs_involved"),
            F.min("jac_ppm").cast("long").alias("min_jac_ppm"),
            F.max("jac_ppm").cast("long").alias("max_jac_ppm"),
            F.expr("sum(jac_ppm) div count(1)").alias("mean_jac_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# --- E273: near-dup cluster quality (intra vs cross-cluster similarity) ------

@query(
    "neardup_cluster_quality",
    category="L2,E273",
    oracle="""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), cand AS (
  SELECT doc_a, doc_b,
         shared * 1000000 // (x.n_sh + y.n_sh - shared) AS jac_ppm,
         (shared * 2 >= x.n_sh + y.n_sh - shared) AS is_edge
  FROM shared
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM cand WHERE is_edge
  UNION
  SELECT doc_b, doc_a FROM cand WHERE is_edge
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
), label AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
), labeled AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN label l ON d.doc_id = l.doc_id
)
SELECT (la.cluster_id = lb.cluster_id) AS is_intra,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT c.doc_a) + count(DISTINCT c.doc_b) AS BIGINT)
         AS docs_involved,
       CAST(min(c.jac_ppm) AS BIGINT) AS min_jac_ppm,
       CAST(max(c.jac_ppm) AS BIGINT) AS max_jac_ppm,
       CAST(sum(c.jac_ppm) // count(*) AS BIGINT) AS mean_jac_ppm
FROM cand c
JOIN labeled la ON c.doc_a = la.doc_id
JOIN labeled lb ON c.doc_b = lb.doc_id
GROUP BY is_intra
ORDER BY is_intra
""",
)
def neardup_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality accounting for the near-dup graph (VERDICT r10 #7):
    every shared-shingle CANDIDATE pair is labeled intra- or cross-cluster
    against the threshold-0.5 connected components, and each class gets
    its exact Jaccard-ppm distribution — the precision proxy that tells a
    dedup owner how sharp the threshold boundary actually is. A healthy
    graph shows intra pairs far above cross pairs; transitive closure
    pulling in sub-threshold pairs (A≈B≈C with A≉C) shows up here as a
    low intra min_jac_ppm — the quantified cost of clustering by CC.

    Zero NEW pair machinery: the candidate set and ppm are the L2
    shared-shingle family (one shingle-keyed SHJ + size joins), the
    components come from operators/graph.py (large-star/small-star,
    O(log n) rounds), and the labeling is two joins against the ≤|docs|
    component map. Every emitted stat is integer-exact (ppm
    multiply-then-div, mean as sum div count) — no float agg anywhere.
    The output is ≤ 2 rows.
    """
    from ..operators.graph import attach_components

    d = load(spark, sf_dir, "documents")
    cand = shingle_pair_ppm(d, n=3).localCheckpoint(eager=False)
    comp = attach_components(
        d.select("doc_id"),
        cand.where("is_edge").select("doc_a", "doc_b"),
        "doc_id",
        src="doc_a",
        dst="doc_b",
    )
    lab = (
        cand.join(
            comp.select(
                F.col("doc_id").alias("doc_a"), F.col("component").alias("ca")
            ),
            "doc_a",
        )
        .join(
            comp.select(
                F.col("doc_id").alias("doc_b"), F.col("component").alias("cb")
            ),
            "doc_b",
        )
        .select(
            (F.col("ca") == F.col("cb")).alias("is_intra"),
            "doc_a",
            "doc_b",
            "jac_ppm",
        )
    )
    return (
        lab.groupBy("is_intra")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.countDistinct("doc_a") + F.countDistinct("doc_b"))
            .cast("long")
            .alias("docs_involved"),
            F.min("jac_ppm").cast("long").alias("min_jac_ppm"),
            F.max("jac_ppm").cast("long").alias("max_jac_ppm"),
            F.expr("sum(jac_ppm) div count(1)").alias("mean_jac_ppm"),
        )
        .orderBy("is_intra")
    )


# --- E274: df-capped exact n-gram Jaccard (the 100 TB-honest pair path) ------

NGRAM_DF_CAP = 16


@query(
    "ngram_jaccard_dfcap",
    category="L2,E274",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), keep AS (
  SELECT doc_id, s,
         count(*) OVER (PARTITION BY s) AS df
  FROM sh
  QUALIFY df <= {NGRAM_DF_CAP}
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM keep GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       shared * 1000000 // (x.n_sh + y.n_sh - shared) AS jac_ppm
FROM shared
JOIN sizes x ON doc_a = x.doc_id
JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 2 >= x.n_sh + y.n_sh - shared
ORDER BY doc_a, doc_b
""",
)
def ngram_jaccard_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs with a hot-shingle document-frequency
    cap — the 100 TB-honest form of the shared-shingle pair family
    (VERDICT r10 #1's open question): the uncapped equi-join's fan-out is
    quadratic in per-shingle df, so one boilerplate shingle shared by a
    million docs would emit 5·10¹¹ candidate rows. Dropping shingles with
    df > {NGRAM_DF_CAP} bounds every shingle's contribution at df²/2
    pairs — total candidate volume ≤ |shingles|·CAP²/2, LINEAR in corpus
    size by construction — and costs nothing in evidence quality:
    ubiquitous shingles are boilerplate, not near-dup signal (the same
    rationale as IDF weighting and as winnowing's noise floor).

    Semantics are exact Jaccard IN THE CAPPED SHINGLE SPACE: df is
    computed first (one count window over the shingle-keyed exchange —
    no extra join, operators/dedup.materialized_shingles), sizes and
    intersections both use only surviving shingles, so the emitted ppm is
    a well-defined similarity, not a truncated estimate of the uncapped
    one. The join sides also drop df == 1 shingles, which can never pair
    (operators/dedup.shingle_pair_counts). At bench tiers the cap binds
    only at sf0.1+ (max df 25 measured; 9 at sf0.001), so small-tier
    results stay comparable to ngram_jaccard_neardup while the ×10 tier
    exercises the pruned path.
    """
    d = load(spark, sf_dir, "documents")
    capped = materialized_shingles(d, df_cap=NGRAM_DF_CAP)
    return (
        shingle_pair_ppm(d, shingles=capped)
        .where("is_edge")
        .select("doc_a", "doc_b", "jac_ppm")
        .orderBy("doc_a", "doc_b")
    )


# --- E275: per-source dedup governance rollup (exact + near-dup exposure) ----

@query(
    "dedup_governance_rollup",
    category="L1,L2,L8,E275",
    oracle="""
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok,
         sha256(trim(regexp_replace(lower(text), '[ \\t\\r\\n\\x0B\\f]+', ' ', 'g'))) AS h
  FROM documents
), f AS (
  SELECT source, n_tok,
         (doc_id = min(doc_id) OVER (PARTITION BY h)) AS is_surv
  FROM t
), exact AS (
  SELECT source,
         count(*) AS docs_before,
         sum(CASE WHEN is_surv THEN 1 ELSE 0 END) AS docs_after,
         sum(n_tok) AS tokens_before,
         (sum(n_tok) - sum(CASE WHEN is_surv THEN n_tok ELSE 0 END)) * 1000000
           // nullif(sum(n_tok), 0) AS exact_savings_ppm
  FROM f GROUP BY source
), toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tk) - 2, 0) + 1),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
  WHERE shared * 2 >= x.n_sh + y.n_sh - shared
), lab AS (
  SELECT da.source AS sa, db.source AS sb
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
), per_src AS (
  SELECT source,
         sum(CASE WHEN self THEN 1 ELSE 0 END) AS self_pairs,
         sum(CASE WHEN self THEN 0 ELSE 1 END) AS cross_pairs,
         count(DISTINCT CASE WHEN NOT self THEN other END) AS cross_partners
  FROM (
    SELECT sa AS source, (sa = sb) AS self, sb AS other FROM lab
    UNION ALL
    SELECT sb AS source, (sa = sb) AS self, sa AS other FROM lab WHERE sa <> sb
  )
  GROUP BY source
)
SELECT e.source,
       CAST(e.docs_before AS BIGINT) AS docs_before,
       CAST(e.docs_after AS BIGINT) AS docs_after,
       CAST(e.tokens_before AS BIGINT) AS tokens_before,
       CAST(e.exact_savings_ppm AS BIGINT) AS exact_savings_ppm,
       CAST(coalesce(p.self_pairs, 0) AS BIGINT) AS neardup_self_pairs,
       CAST(coalesce(p.cross_pairs, 0) AS BIGINT) AS neardup_cross_pairs,
       CAST(coalesce(p.cross_partners, 0) AS BIGINT) AS cross_partner_sources
FROM exact e LEFT JOIN per_src p ON e.source = p.source
ORDER BY e.source
""",
)
def dedup_governance_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup governance rollup (VERDICT r10 #7's suggested row):
    ONE table a corpus owner reads before scheduling dedup passes — for
    each source, the exact-dedup ledger (docs/tokens before-after, savings
    in integer ppm — the E249 accounting) JOINED with its near-dup
    exposure from the pair graph: how many threshold pairs are
    self-duplication (an in-source pass fixes them) vs cross-source (only
    a global pass fixes them), and how many distinct partner sources it
    shares near-dups with (E272's matrix, folded to a per-source row).

    A self-heavy source wants a cheap per-source dedup shard; a
    cross-heavy one forces the corpus-wide pass — this table is the
    scheduling decision. Self pairs count ONCE for their source; cross
    pairs count once per ENDPOINT source (each side's owner must care),
    the double-sided accounting made explicit by the unioned-endpoint
    form in both engines.

    Plan: the exact half is one content-hash window + a per-source agg
    (no join); the near-dup half reuses shingle_pair_ppm (operators/
    dedup.py — shared with E272/E273) + two dim joins + an explode-free
    two-arm union keyed by source. Everything emitted is integer-exact.
    """
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit("")))
    t = d.select(
        "doc_id",
        "source",
        n_tok.cast("bigint").alias("n_tok"),
        F.sha2(F.encode(normalize_text(F.col("text")), "UTF-8"), 256).alias("h"),
    )
    w = Window.partitionBy("h")
    f = t.select(
        "source",
        "n_tok",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_surv"),
    )
    kept = F.sum(F.when(F.col("is_surv"), F.col("n_tok")).otherwise(F.lit(0)))
    tot = F.sum("n_tok")
    exact = (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_before"),
            F.sum(F.when(F.col("is_surv"), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_after"),
            tot.cast("bigint").alias("tokens_before"),
            ((tot - kept) * 1000000).cast("bigint").alias("_sav_num"),
        )
        .select(
            "source",
            "docs_before",
            "docs_after",
            "tokens_before",
            # nullif: see token_savings_ppm — NULL, not ANSI DIVIDE_BY_ZERO.
            F.expr("_sav_num div nullif(tokens_before, 0)").alias(
                "exact_savings_ppm"
            ),
        )
    )
    src = d.select("doc_id", "source")
    lab = (
        shingle_pair_ppm(d, n=3)
        .where("is_edge")
        .join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select("sa", "sb")
    )
    # Round 13 (guide §1.2): the two-arm union replayed the whole pair
    # machinery (shingle explode + SHJ + sizes joins) once per arm; a
    # conditional in-row explode emits the same endpoint multiset — self
    # pairs once, cross pairs once per endpoint — from ONE pass.
    both = F.when(
        F.col("sa") == F.col("sb"),
        F.array(
            F.struct(
                F.col("sa").alias("source"),
                F.lit(True).alias("self"),
                F.col("sb").alias("other"),
            )
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("sa").alias("source"),
                F.lit(False).alias("self"),
                F.col("sb").alias("other"),
            ),
            F.struct(
                F.col("sb").alias("source"),
                F.lit(False).alias("self"),
                F.col("sa").alias("other"),
            ),
        )
    )
    ends = lab.select(F.explode(both).alias("e")).select("e.*")
    per_src = ends.groupBy("source").agg(
        F.sum(F.when(F.col("self"), 1).otherwise(0))
        .cast("bigint")
        .alias("neardup_self_pairs"),
        F.sum(F.when(F.col("self"), 0).otherwise(1))
        .cast("bigint")
        .alias("neardup_cross_pairs"),
        F.countDistinct(F.when(~F.col("self"), F.col("other")))
        .cast("bigint")
        .alias("cross_partner_sources"),
    )
    return (
        exact.join(per_src, "source", "left")
        .select(
            "source",
            "docs_before",
            "docs_after",
            "tokens_before",
            "exact_savings_ppm",
            F.coalesce("neardup_self_pairs", F.lit(0)).alias("neardup_self_pairs"),
            F.coalesce("neardup_cross_pairs", F.lit(0)).alias(
                "neardup_cross_pairs"
            ),
            F.coalesce("cross_partner_sources", F.lit(0)).alias(
                "cross_partner_sources"
            ),
        )
        .orderBy("source")
    )


# --- E276: MinHash banding-parameter recall curve ----------------------------


@query(
    "minhash_banding_recall_curve",
    category="L2,E276",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), hx AS (
  SELECT doc_id, i,
         min(CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), ':', s)), 1, 15)) AS BIGINT)) AS h
  FROM sh, range(16) t(i)
  GROUP BY doc_id, i
), cfg(b, r) AS (
  SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8)) v(b, r)
), bands AS (
  SELECT c.b, c.r, h.doc_id, h.i // c.r AS band,
         string_agg(CAST(h.h AS VARCHAR), ',' ORDER BY h.i) AS sig
  FROM hx h CROSS JOIN cfg c
  GROUP BY c.b, c.r, h.doc_id, h.i // c.r
), cand AS (
  SELECT DISTINCT x.b, x.r, x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.b = y.b AND x.r = y.r AND x.band = y.band AND x.sig = y.sig
   AND x.doc_id < y.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
  WHERE 2 * shared >= (x.n_sh + y.n_sh - shared)
), nt AS (SELECT count(*) AS n_truth FROM truth
), per AS (
  SELECT c.b, c.r, count(*) AS n_candidates,
         CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM cand c LEFT JOIN truth t USING (doc_a, doc_b)
  GROUP BY c.b, c.r
)
SELECT cfg.b, cfg.r, nt.n_truth,
       coalesce(per.n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
       coalesce(per.n_hits, CAST(0 AS BIGINT)) AS n_hits,
       CASE WHEN nt.n_truth = 0 THEN CAST(0 AS BIGINT)
            ELSE coalesce(per.n_hits, CAST(0 AS BIGINT)) * 1000000 // nt.n_truth
       END AS recall_ppm,
       CASE WHEN coalesce(per.n_candidates, CAST(0 AS BIGINT)) = 0 THEN CAST(0 AS BIGINT)
            ELSE coalesce(per.n_hits, CAST(0 AS BIGINT)) * 1000000 // per.n_candidates
       END AS precision_ppm
FROM cfg CROSS JOIN nt
LEFT JOIN per ON cfg.b = per.b AND cfg.r = per.r
ORDER BY cfg.r
""",
)
def minhash_banding_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-certified (b, r) banding sweep: upgrades the L2 certification
    from fixed-parameter ("this banding found every >=0.5 pair here") to a
    CURVE ("here is measured recall/precision/candidate-cost per banding
    choice against exact ground truth") — the table an operator reads
    before picking banding for a new corpus (VERDICT r11 #7a).

    16 minhash tables are computed ONCE and re-sliced into four nested
    configurations (b x r = 16x1, 8x2, 4x4, 2x8); for each, candidates are
    the distinct band-collision pairs and ground truth is the exact
    integer-predicate (2*shared >= union) >=0.5 Jaccard pair set from the
    shared-shingle machinery. recall_ppm/precision_ppm are integer
    multiply-then-div — no float anywhere.

    Cross-engine note: unlike minhash_lsh_neardup (engine-internal
    xxhash64, certified only through its exact verify), the hash here is
    md5 -> first 15 hex chars -> int64, which BOTH engines compute
    identically, so the oracle reproduces the signatures, the candidate
    sets, and the curve bit-for-bit. That makes this the slow,
    fully-auditable twin: 16 md5s per (doc, shingle) row and a 30x|docs|
    band fan-out. At 100 TB you run it on a per-source SAMPLE to pick
    (b, r), then run the xxhash64 scale path with the chosen banding; the
    plan shape is the same band-bucket equi-join as the scale path (never
    |N|^2), so the sample size only scales the constant.
    """
    d = load(spark, sf_dir, "documents")
    sh = materialized_shingles(d)

    def H(i: int):
        return F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat_ws(":", F.lit(str(i)), F.col("s")), "UTF-8"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    sig = (
        sh.groupBy("doc_id")
        .agg(*[F.min(H(i)).alias(f"h{i}") for i in range(16)])
        .localCheckpoint(eager=False)  # 30 band projections read it
    )

    # One explode generates all 30 (config, band) rows per doc in a single
    # projection — a 30-way unionAll here planned 30 scan branches and was
    # stage-bound (14.7 s at sf0.001 under driver confs).
    configs = [(16, 1), (8, 2), (4, 4), (2, 8)]
    band_structs = [
        F.struct(
            F.lit(b).alias("b"),
            F.lit(r).alias("r"),
            F.lit(j).alias("band"),
            F.concat_ws(
                ",", *[F.col(f"h{j * r + k}").cast("string") for k in range(r)]
            ).alias("sig"),
        )
        for b, r in configs
        for j in range(b)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("x")
    ).select(
        "doc_id",
        F.col("x.b").alias("b"),
        F.col("x.r").alias("r"),
        F.col("x.band").alias("band"),
        F.col("x.sig").alias("sig"),
    )
    x = bands.select("b", "r", "band", "sig", F.col("doc_id").alias("doc_a"))
    y = bands.select("b", "r", "band", "sig", F.col("doc_id").alias("doc_b"))
    cand = (
        x.join(y.hint("shuffle_hash"), ["b", "r", "band", "sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("b", "r", "doc_a", "doc_b")
        .dropDuplicates(["b", "r", "doc_a", "doc_b"])
    )

    truth = (
        # The ground truth reads the same materialized rows the signatures
        # were built from, so the scan+shingle pass runs once, not twice.
        shingle_pair_ppm(d, shingles=sh)
        .where(F.col("is_edge"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # read by the scalar agg + the hit join
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    # The hit join builds on TRUTH via shuffled-hash, not broadcast: the
    # truth pair set grows with the corpus (linear in docs), so a forced
    # broadcast is the r9 vocab-trap shape — SHJ holds only the
    # per-partition truth slice and AQE skew-split applies.
    per = (
        cand.join(
            truth.withColumn("hit", F.lit(1)).hint("shuffle_hash"),
            ["doc_a", "doc_b"],
            "left",
        )
        .groupBy("b", "r")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    cfg = local_frame(spark, configs, "b int, r int")
    return (
        cfg.crossJoin(F.broadcast(n_truth))  # 1-row scalar idiom
        .join(F.broadcast(per), ["b", "r"], "left")
        .select(
            "b",
            "r",
            "n_truth",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT) "
                "ELSE coalesce(n_hits, CAST(0 AS BIGINT)) * 1000000 div n_truth END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN coalesce(n_candidates, CAST(0 AS BIGINT)) = 0 "
                "THEN CAST(0 AS BIGINT) "
                "ELSE coalesce(n_hits, CAST(0 AS BIGINT)) * 1000000 div n_candidates END"
            ).alias("precision_ppm"),
        )
        .orderBy("r")
    )


# --- E277: df-capped MinHash-LSH (the boilerplate-proof scale path) ----------


@query(
    "minhash_lsh_dfcap",
    category="L2,E277",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
), keep AS (
  SELECT doc_id, s,
         count(*) OVER (PARTITION BY s) AS df
  FROM sh
  QUALIFY df <= {NGRAM_DF_CAP}
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM keep GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       shared * 1000000 // (x.n_sh + y.n_sh - shared) AS jac_ppm,
       TRUE AS lsh_found
FROM shared
JOIN sizes x ON doc_a = x.doc_id
JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 2 >= x.n_sh + y.n_sh - shared
ORDER BY doc_a, doc_b
""",
)
def minhash_lsh_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over the DF-CAPPED shingle space — the
    boilerplate-proof composition of L2's two scale levers, added after the
    round-12 second-decade measurement EXPOSED the gap: on a tier where
    20% of docs share an identical un-ciphered 10-token boilerplate suffix
    (hottest shingle df 10k/30k), plain minhash_lsh_neardup blew up 14x at
    x10 (109.7 s vs 7.8 s) — the shared suffix dominates enough per-table
    minima that band buckets collapse into boilerplate super-buckets, and
    candidate volume goes quadratic in the boilerplate cohort size.
    Banding bounds candidates only for DISSIMILAR docs; identical heavy
    substrings defeat it, exactly as they defeat the uncapped exact join
    (E274's rationale).

    Fix = drop df > {NGRAM_DF_CAP} shingles BEFORE signatures: boilerplate
    then contributes neither to minima (no super-buckets) nor to the
    verify expansion, and candidate volume is linear again. Semantics are
    exact Jaccard IN THE CAPPED SPACE (identical to E274's contract,
    threshold >= 0.5), so the oracle is the capped exact-pair SQL and a
    hash match certifies precision AND recall of the banding, the same
    certified-tolerance pattern as minhash_lsh_neardup. Cost vs the plain
    path: one df count window on the shingle exchange. At 100 TB this is
    the variant you run — real crawls are boilerplate-heavy — with the cap
    set from a df histogram (E274 note), not a constant.
    """
    d = load(spark, sf_dir, "documents")
    capped = materialized_shingles(d, df_cap=NGRAM_DF_CAP)
    return (
        minhash_verified_pairs(capped)
        .where(F.col("shared") * 2 >= F.col("na") + F.col("nb") - F.col("shared"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("shared * 1000000 div (na + nb - shared)").alias("jac_ppm"),
            F.lit(True).alias("lsh_found"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- E278: end-to-end dedup governance pipeline ------------------------------


@query(
    "dedup_governance_pipeline",
    category="L1,L2,L8,E278",
    oracle="""
WITH RECURSIVE t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok,
         sha256(trim(regexp_replace(lower(text), '[ \\t\\r\\n\\x0B\\f]+', ' ', 'g'))) AS h,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
), surv AS (
  SELECT doc_id, source, n_tok, tk
  FROM (SELECT doc_id, source, n_tok, tk,
               (doc_id = min(doc_id) OVER (PARTITION BY h)) AS is_surv
        FROM t)
  WHERE is_surv
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tk) - 2, 0) + 1),
           i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS g
  FROM surv
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT da, db
  FROM shared
  JOIN sizes x ON da = x.doc_id
  JOIN sizes y ON db = y.doc_id
  WHERE 2 * c >= x.n_sh + y.n_sh - c
), sym AS (
  SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a WHERE s2.b <> r.a
), label AS (
  SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a
), canon AS (
  SELECT surv.source, surv.n_tok
  FROM surv LEFT JOIN label USING (doc_id)
  WHERE coalesce(comp, doc_id) = doc_id
), raw AS (
  SELECT source, count(*) AS docs_raw,
         CAST(sum(n_tok) AS BIGINT) AS tokens_raw
  FROM t GROUP BY source
), ex AS (
  SELECT source, count(*) AS docs_after_exact,
         CAST(sum(n_tok) AS BIGINT) AS tokens_after_exact
  FROM surv GROUP BY source
), cn AS (
  SELECT source, count(*) AS docs_after_neardup,
         CAST(sum(n_tok) AS BIGINT) AS tokens_after_neardup
  FROM canon GROUP BY source
)
SELECT raw.source, docs_raw,
       coalesce(docs_after_exact, 0) AS docs_after_exact,
       coalesce(docs_after_neardup, 0) AS docs_after_neardup,
       tokens_raw,
       coalesce(tokens_after_exact, 0) AS tokens_after_exact,
       coalesce(tokens_after_neardup, 0) AS tokens_after_neardup,
       CASE WHEN tokens_raw = 0 THEN 0
            ELSE (tokens_raw - coalesce(tokens_after_exact, 0)) * 1000000 // tokens_raw
       END AS exact_savings_ppm,
       CASE WHEN tokens_raw = 0 THEN 0
            ELSE (coalesce(tokens_after_exact, 0) - coalesce(tokens_after_neardup, 0)) * 1000000 // tokens_raw
       END AS neardup_extra_savings_ppm
FROM raw LEFT JOIN ex USING (source) LEFT JOIN cn USING (source)
ORDER BY raw.source
""",
)
def dedup_governance_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup governance in ONE lazy plan (VERDICT r11 #7b, the
    E21 composition pattern applied to the governance family): exact dedup
    → near-dup pair graph OVER THE SURVIVORS → connected-component
    canonicalization → per-source three-stage ledger (raw / after-exact /
    after-near-dup docs+tokens, savings in integer ppm of the raw token
    count). Where E249 reports exact savings and E275 reports near-dup
    EXPOSURE, this query runs the passes in sequence and reports what each
    stage actually removed — the table that schedules a dedup rollout.

    The funnel is the scale story (same as E21): the dedup-hash window
    touches all docs; the shingle pair join touches only exact survivors;
    the O(log n) CC rounds touch only near-dup docs; the three ledger aggs
    are |sources|-row shuffles. The DuckDB twin recomputes the closure
    with a recursive CTE (`reach`) — a hash match therefore certifies the
    distributed large/small-star components against SQL transitive
    closure, plus every ppm digit.
    """
    from ..operators.graph import attach_components

    d = load(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    ).cast("bigint")
    base = d.select(
        "doc_id", "source", "text", n_tok.alias("n_tok")
    ).localCheckpoint(eager=False)  # raw ledger + survivor window share it
    # r12 (guide §2.4): survivors used to come from exact_dedup() followed
    # by a join back to base to re-attach source/text/n_tok — one window
    # exchange PLUS a join exchange of the text payload. The window-filter
    # form below (exactly the oracle's `surv` CTE shape) selects survivors
    # in place: ONE content-hash exchange total, no join. Survivor = min
    # doc_id per hash, identical to exact_dedup's row_number()=1 pick.
    hw = Window.partitionBy("h")
    s = (
        base.withColumn(
            "h", F.sha2(F.encode(normalize_text(F.col("text")), "UTF-8"), 256)
        )
        .withColumn("is_surv", F.col("doc_id") == F.min("doc_id").over(hw))
        .where("is_surv")
        .select("doc_id", "source", "text", "n_tok")
        .localCheckpoint(eager=False)  # pair gen, CC nodes, canon join, ledger
    )
    pairs = (
        shingle_pair_ppm(s, text_col="text", id_col="doc_id")
        .where(F.col("is_edge"))
        .select("doc_a", "doc_b")
    )
    labeled = attach_components(
        s.select("doc_id"), pairs, "doc_id", src="doc_a", dst="doc_b"
    )
    canon = s.join(
        labeled.where(F.col("component") == F.col("doc_id")).select("doc_id"),
        "doc_id",
    )

    def ledger(df: DataFrame, dcol: str, tcol: str) -> DataFrame:
        return df.groupBy("source").agg(
            F.count(F.lit(1)).alias(dcol),
            F.sum("n_tok").alias(tcol),
        )

    raw = ledger(base, "docs_raw", "tokens_raw")
    ex = ledger(s, "docs_after_exact", "tokens_after_exact")
    cn = ledger(canon, "docs_after_neardup", "tokens_after_neardup")
    return (
        raw.join(ex, "source", "left")
        .join(cn, "source", "left")
        .select(
            "source",
            "docs_raw",
            F.coalesce("docs_after_exact", F.lit(0)).alias("docs_after_exact"),
            F.coalesce("docs_after_neardup", F.lit(0)).alias(
                "docs_after_neardup"
            ),
            "tokens_raw",
            F.coalesce("tokens_after_exact", F.lit(0)).alias(
                "tokens_after_exact"
            ),
            F.coalesce("tokens_after_neardup", F.lit(0)).alias(
                "tokens_after_neardup"
            ),
            F.expr(
                "CASE WHEN tokens_raw = 0 THEN CAST(0 AS BIGINT) "
                "ELSE (tokens_raw - coalesce(tokens_after_exact, CAST(0 AS BIGINT)))"
                " * 1000000 div tokens_raw END"
            ).alias("exact_savings_ppm"),
            F.expr(
                "CASE WHEN tokens_raw = 0 THEN CAST(0 AS BIGINT) "
                "ELSE (coalesce(tokens_after_exact, CAST(0 AS BIGINT))"
                " - coalesce(tokens_after_neardup, CAST(0 AS BIGINT)))"
                " * 1000000 div tokens_raw END"
            ).alias("neardup_extra_savings_ppm"),
        )
        .orderBy("source")
    )
