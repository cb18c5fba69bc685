"""Operational gates a 100 TB pipeline runs on itself (round 9, second
batch): tokenizer economics, memorization rate, exact order statistics
without a global sort, leave-one-source-out LM scoring, and shard
rebalance planning.

Shared design rules (the house contracts):
- every emitted measure is an exact integer (counts, ppm via integer
  division) except ln-of-exact-count-ratio scores, which follow the E73
  sums-of-logs contract (round 4 — partial-sum order may differ by ulps);
- every hash is md5 over an explicitly UTF-8-encoded string (the proven
  cross-engine idiom), and 16-hex-char prefixes compare lexicographically
  exactly like the 64-bit integers they encode (lowercase hex), so ring
  lookups need no integer conversion at all;
- bounded driver-side collects only: a 1-row total, a ≤1024-row
  histogram, a 3-row bucket map — all constant-size at any corpus scale
  (the kmeans idiom).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load, local_frame
from ..registry import query

#: whitespace tokens (house idiom, matches curation.py / llm_text.py)
_TOKENS = "filter(split(text, ' '), t -> t <> '')"

# ---------------------------------------------------------------------------
# E255: tokenizer economics gate (bytes/token, chars/token per source)
# ---------------------------------------------------------------------------

#: BPE-ish segmentation regex — must match token_count_bpe_ish (llm_text.py).
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "token_compression_gate",
    category="L4,E255",
    oracle=f"""
WITH per AS (
  SELECT source,
         count(*) AS n_docs,
         sum(strlen(text)) AS n_bytes,
         sum(length(text)) AS n_chars,
         sum(len(regexp_extract_all(text, '{_BPE_RE}'))) AS n_tokens
  FROM documents
  GROUP BY source
), corpus AS (
  SELECT sum(n_bytes) AS cb, sum(n_tokens) AS ct FROM per
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_bytes * 1000000 // n_tokens AS BIGINT) AS bytes_per_token_ppm,
       CAST(n_chars * 1000000 // n_tokens AS BIGINT) AS chars_per_token_ppm,
       CAST(cb * 1000000 // ct AS BIGINT) AS corpus_bytes_per_token_ppm,
       (n_bytes * ct * 2 > cb * n_tokens * 3
        OR n_bytes * ct * 3 < cb * n_tokens * 2) AS fertility_outlier
FROM per CROSS JOIN corpus
ORDER BY source
""",
)
def token_compression_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-economics gate: bytes/token and chars/token per source
    under the BPE-ish segmenter (llm_text.token_count_bpe_ish's regex) —
    the compression-ratio dashboard every training-data pipeline watches.
    A source whose bytes/token drifts far from the corpus norm is either
    binary junk, mojibake, or a script the tokenizer fragments (high
    fertility = wasted context window and training FLOPs); the gate flags
    sources outside [2/3, 3/2] x the corpus ratio.

    Plan: ONE corpus scan into a map-side-combinable per-source agg
    (sources are few — the shuffle is bytes-per-source, not per-doc),
    then a 1-row corpus total cross-joined back. The outlier predicate is
    pure integer cross-multiplication (g/c > 3/2 <=> 2*g*ct > 3*cb*nt) —
    no float division anywhere, so the flag is hash-exact. At 100 TB this
    is a single pass with a ~|sources|-row shuffle.
    """
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum(F.regexp_count("text", F.lit(_BPE_RE))).cast("long").alias("n_tokens"),
    )
    corpus = per.agg(
        F.sum("n_bytes").alias("cb"), F.sum("n_tokens").alias("ct")
    )
    return (
        per.crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "n_docs",
            "n_bytes",
            "n_tokens",
            F.expr("n_bytes * 1000000 div n_tokens").alias("bytes_per_token_ppm"),
            F.expr("n_chars * 1000000 div n_tokens").alias("chars_per_token_ppm"),
            F.expr("cb * 1000000 div ct").alias("corpus_bytes_per_token_ppm"),
            (
                (F.col("n_bytes") * F.col("ct") * 2 > F.col("cb") * F.col("n_tokens") * 3)
                | (F.col("n_bytes") * F.col("ct") * 3 < F.col("cb") * F.col("n_tokens") * 2)
            ).alias("fertility_outlier"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# E258: n-gram novelty / memorization-rate audit per source
# ---------------------------------------------------------------------------

#: memorization-audit shingle width (tokens); 8 is the Lee et al. 2022 scale
#: shrunk to the fixture's ~40-token docs.
NOVELTY_W = 8
#: a doc whose duplicated-shingle share is >= 80% counts as memorized.
MEMORIZED_PPM = 800_000


@query(
    "ngram_novelty_by_source",
    category="L2,L8,E258",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {NOVELTY_W - 1}, 0) + 1),
           i -> md5(array_to_string(list_slice(t, i, i + {NOVELTY_W - 1}), ' '))
         ))) AS h
  FROM toks
), df AS (
  SELECT h, count(*) AS df FROM sh GROUP BY h
), perdoc AS (
  SELECT sh.doc_id, sh.source,
         count(*) AS n_sh,
         sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM sh JOIN df ON sh.h = df.h
  GROUP BY sh.doc_id, sh.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_scored,
       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
       CAST(sum(n_dup) AS BIGINT) AS n_duplicated,
       CAST((sum(n_sh) - sum(n_dup)) * 1000000 // sum(n_sh) AS BIGINT)
         AS novelty_ppm,
       CAST(sum(CASE WHEN n_dup * 1000000 // n_sh >= {MEMORIZED_PPM}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_memorized
FROM perdoc
GROUP BY source
ORDER BY source
""",
)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-rate audit: per source, the share of each document's
    DISTINCT 8-token shingles that appear in >= 2 documents — the
    corpus-level novelty statistic behind memorization/contamination
    dashboards (Lee et al. 2022 measure dedup success exactly this way).
    Distinct from E221 (which extracts the maximal repeated SPANS) and
    E234/E235 (sampled winnowing fingerprints): this is the exhaustive
    doc- and source-level RATE, the number a curation team trends per
    ingest batch, plus a count of near-fully-memorized docs (>= 80%
    duplicated shingles).

    Plan: shingles are md5'd IN-ROW (transform over the token array, the
    doc_fingerprint idiom) and deduped per doc BEFORE the explode, so the
    shuffle carries one 32-hex row per distinct (doc, shingle); document
    frequency is one map-side-combinable groupBy; the dup flag is ONE
    digest-keyed equi-join (linear in distinct shingles — never |docs|²);
    then two narrow integer aggs. All emits exact integers.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    # Spark sequence(1, 0) yields DESCENDING [1, 0] — guard short docs.
    hashes = F.when(
        F.size(toks) >= NOVELTY_W,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (NOVELTY_W - 1)),
                lambda i: F.md5(
                    F.encode(F.concat_ws(" ", F.slice(toks, i, NOVELTY_W)), "UTF-8")
                ),
            )
        ),
    )
    sh = d.select(
        "doc_id", "source", F.explode(hashes).alias("h")
    )
    df = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # BOTH sides grow with the corpus — never broadcast (AQE's size
    # estimate under-reads the md5 column and OOM'd the x10 tier; the
    # same trap as minhash r8, PERF.md §50). Merge-hinted SMJ: it spills
    # gracefully, where a shuffle-hash build map cannot (an AQE-coalesced
    # post-shuffle partition OOM'd the 4g x10 run building the SHJ map).
    perdoc = (
        sh.join(df.hint("merge"), "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_scored"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_dup").cast("long").alias("n_duplicated"),
            F.expr(
                "(sum(n_sh) - sum(n_dup)) * 1000000 div sum(n_sh)"
            ).alias("novelty_ppm"),
            F.sum(
                F.when(
                    F.expr(f"n_dup * 1000000 div n_sh") >= MEMORIZED_PPM, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_docs_memorized"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# E259: exact quantiles by two-pass distributed selection (no global sort)
# ---------------------------------------------------------------------------

#: histogram resolution for the narrowing pass (constant, scale-independent)
QSEL_BUCKETS = 1024
#: percentiles delivered exactly
QSEL_PS = (50, 90, 99)


@query(
    "exact_quantile_selection",
    category="A7,O1,E259",
    oracle=f"""
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
), n AS (
  SELECT count(*) AS n FROM c
), ps AS (
  SELECT unnest([{", ".join(str(p) for p in QSEL_PS)}]) AS p
), rk AS (
  SELECT p, greatest(1, (n.n * p) // 100) AS r FROM ps, n
), ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c
)
SELECT CAST(rk.p AS BIGINT) AS p,
       CAST(rk.r AS BIGINT) AS target_rank,
       ranked.cents AS quantile_cents,
       ranked.cents / 100.0 AS quantile_value
FROM rk JOIN ranked ON ranked.rn = rk.r
ORDER BY p
""",
)
def exact_quantile_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of order value (rank r = max(1, floor(n*p/100)),
    value-at-rank over the cents-quantized multiset) computed by two-pass
    distributed SELECTION, never a global sort: pass 1 builds a 1024-bucket
    integer histogram (one map-side-combinable agg — shuffle is <= 1024
    rows no matter the corpus), the driver walks the cumulative counts to
    find each rank's bucket (a <= 1024-row bounded collect, the kmeans
    idiom), pass 2 re-scans ONLY the candidate buckets (~n/1024 of the
    data) and picks the exact value with a per-percentile row_number. The
    complement to the approx rows (E36/E87): same answer as ORDER BY ...
    OFFSET, at 1/1024th the shuffled bytes — the oracle IS the global
    sort, proving the selection path exact. At 100 TB you'd iterate the
    narrowing once more to shrink the residual bucket; one round suffices
    here and the algorithm is unchanged.

    Money follows numeric.cents (floor(x*100+0.5) BIGINT — deterministic
    per-row, order-independent); /100.0 of identical ints is bit-identical.
    """
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    base = o.select(cents.alias("cents"))

    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.min("cents").alias("mn"), F.max("cents").alias("mx")
    ).collect()[0]
    n, mn, mx = stats["n"], stats["mn"], stats["mx"]
    width = mx - mn + 1
    bucket = ((F.col("cents") - F.lit(mn)) * QSEL_BUCKETS) / F.lit(width)
    bucket = F.floor(bucket).cast("long")

    hist = (
        base.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("b")
        .collect()
    )
    # Driver-side walk over <= 1024 rows (constant at any scale).
    targets = {p: max(1, (n * p) // 100) for p in QSEL_PS}
    plan: dict[int, tuple[int, int]] = {}  # p -> (bucket, offset within bucket)
    cum = 0
    rows = iter(hist)
    pending = sorted(targets.items(), key=lambda kv: kv[1])
    for row in rows:
        lo_cum = cum
        cum += row["c"]
        while pending and pending[0][1] <= cum:
            p, r = pending.pop(0)
            plan[p] = (row["b"], r - lo_cum)
        if not pending:
            break

    wanted = sorted({b for b, _ in plan.values()})
    tags = F.array_compact(
        F.array(
            *[
                F.when(F.col("b") == F.lit(b), F.lit(p))
                for p, (b, _) in sorted(plan.items())
            ]
        )
    )
    cand = (
        base.withColumn("b", bucket)
        .where(F.col("b").isin(wanted))
        .withColumn("p", F.explode(tags))
    )
    rn = F.row_number().over(Window.partitionBy("p").orderBy("cents"))
    offset = F.coalesce(
        *[
            F.when(F.col("p") == F.lit(p), F.lit(off))
            for p, (_, off) in sorted(plan.items())
        ]
    )
    rank_lit = F.coalesce(
        *[
            F.when(F.col("p") == F.lit(p), F.lit(targets[p]))
            for p in sorted(plan)
        ]
    )
    return (
        cand.withColumn("rn", rn)
        .where(F.col("rn") == offset)
        .select(
            F.col("p").cast("long").alias("p"),
            rank_lit.cast("long").alias("target_rank"),
            F.col("cents").alias("quantile_cents"),
            (F.col("cents") / 100.0).alias("quantile_value"),
        )
        .orderBy("p")
    )


# ---------------------------------------------------------------------------
# E260: leave-one-source-out bigram stupid-backoff surprisal
# ---------------------------------------------------------------------------

#: stupid-backoff discount (Brants et al. 2007, "Large Language Models in
#: Machine Translation" — the canonical constant).
SB_ALPHA = 0.4


@query(
    "bigram_backoff_surprisal",
    category="L8,E260",
    oracle=f"""
WITH toks AS (
  SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT source, t, unnest(range(1, len(t))) AS i FROM toks
), bg AS (
  SELECT source, t[i] AS w1, t[i + 1] AS w2, count(*) AS cs
  FROM pos GROUP BY 1, 2, 3
), bgt AS (
  SELECT w1, w2, sum(cs) AS ct FROM bg GROUP BY 1, 2
), un AS (
  SELECT source, unnest(t) AS w FROM toks
), us AS (
  SELECT source, w, count(*) AS us FROM un GROUP BY 1, 2
), ut AS (
  SELECT w, sum(us) AS ut FROM us GROUP BY 1
), ns AS (
  SELECT source, sum(us) AS ns FROM us GROUP BY 1
), nt AS (
  SELECT sum(us) AS nt, count(DISTINCT w) AS v FROM us
), scored AS (
  SELECT bg.source, bg.cs,
         bgt.ct - bg.cs AS excl,
         ut1.ut - coalesce(us1.us, 0) AS c1x,
         ut2.ut - coalesce(us2.us, 0) AS c2x,
         nt.nt - ns.ns AS nx, nt.v AS v
  FROM bg
  JOIN bgt ON bgt.w1 = bg.w1 AND bgt.w2 = bg.w2
  JOIN ut ut1 ON ut1.w = bg.w1
  JOIN ut ut2 ON ut2.w = bg.w2
  LEFT JOIN us us1 ON us1.source = bg.source AND us1.w = bg.w1
  LEFT JOIN us us2 ON us2.source = bg.source AND us2.w = bg.w2
  JOIN ns ON ns.source = bg.source
  CROSS JOIN nt
)
SELECT source,
       CAST(sum(cs) AS BIGINT) AS n_bigram_positions,
       CAST(sum(CASE WHEN excl = 0 THEN cs ELSE 0 END) * 1000000
            // sum(cs) AS BIGINT) AS backoff_ppm,
       round(sum(CAST(floor(cs * -ln(CASE WHEN excl > 0
                               THEN excl / CAST(c1x AS DOUBLE)
                               ELSE {SB_ALPHA} * (c2x + 1) / CAST(nx + v AS DOUBLE)
                          END) * CAST(1000000.0 AS DOUBLE) + 0.5) AS BIGINT))
             / CAST(1000000.0 AS DOUBLE) / sum(cs), 4) AS avg_surprisal
FROM scored
GROUP BY source
ORDER BY source
""",
)
def bigram_backoff_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out LM scoring with stupid backoff (Brants 2007):
    each source's bigrams are scored under the model built from ALL OTHER
    sources — s(w2|w1) = c'(w1 w2)/c'(w1) when the held-out corpus has
    seen the bigram, else alpha * (c'(w2)+1)/(N'+V) (backoff to add-one
    unigram; alpha = 0.4, the canonical constant). The exclusion is pure
    count subtraction (total - this source), so ONE corpus pass prices
    every source out-of-fold — the cross-validated perplexity gate that
    catches a source whose text no other source predicts (noise/mojibake)
    or that every source predicts too well (boilerplate), which the
    in-fold unigram score (E73/E226) structurally cannot.

    Plan: in-row zip-shift bigram generation (the E254 idiom — zero
    positional joins, pair volume linear), counts partial-agg'd to
    (source, w1, w2) BEFORE any join, then vocab-bounded equi-joins
    (bigram totals) and broadcast unigram/source totals. backoff_ppm is
    exact integer; avg_surprisal is a weighted mean of ln's of exact
    count ratios under the E73 round-4 contract.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    nminus = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, 1, nminus).alias("w1"), F.slice(toks, 2, nminus).alias("w2")
    )
    # r13 (guide §1.2): bg feeds 2 lineage branches and us feeds FIVE (ut,
    # ns, the nt/v scalar, two join sides) — unchecked, every branch re-ran
    # the corpus explode+aggregate (measured 22 jobs / 111 stages, warm
    # 2.04 s at sf0.1). One lazy localCheckpoint each truncates that to one
    # materialization per table; the nt/v scalar becomes the house lazy
    # 1-row crossJoin instead of an EAGER collect() (a full us pass at
    # query-construction time — the association_rules r12 fix).
    bg = (
        d.select("source", F.explode(pairs).alias("p"))
        .select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cs"))
        .localCheckpoint(eager=False)
    )
    bgt = bg.groupBy("w1", "w2").agg(F.sum("cs").alias("ct"))
    un = d.select("source", F.explode(toks).alias("w"))
    us = (
        un.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("us"))
        .localCheckpoint(eager=False)
    )
    ut = us.groupBy("w").agg(F.sum("us").alias("ut"))
    ns = us.groupBy("source").agg(F.sum("us").alias("ns"))
    tot = us.agg(F.sum("us").alias("nt"), F.countDistinct("w").alias("v"))

    # Every model table except ns grows with the corpus (bigram table ~
    # unique bigrams, unigram tables ~ vocabulary, which Heaps-grows at
    # 100 TB) — merge-hinted SMJ, never broadcast; only the |sources|-row
    # ns is broadcast-safe.
    scored = (
        bg.join(bgt.hint("merge"), ["w1", "w2"])
        .join(
            ut.select(F.col("w").alias("w1"), F.col("ut").alias("ut1")).hint(
                "shuffle_hash"
            ),
            "w1",
        )
        .join(
            ut.select(F.col("w").alias("w2"), F.col("ut").alias("ut2")).hint(
                "shuffle_hash"
            ),
            "w2",
        )
        .join(
            us.select(
                "source", F.col("w").alias("w1"), F.col("us").alias("us1")
            ).hint("merge"),
            ["source", "w1"],
            "left",
        )
        .join(
            us.select(
                "source", F.col("w").alias("w2"), F.col("us").alias("us2")
            ).hint("merge"),
            ["source", "w2"],
            "left",
        )
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))  # 1-row (nt, v) scalar
        .select(
            "source",
            "cs",
            (F.col("ct") - F.col("cs")).alias("excl"),
            (F.col("ut1") - F.coalesce("us1", F.lit(0))).alias("c1x"),
            (F.col("ut2") - F.coalesce("us2", F.lit(0))).alias("c2x"),
            (F.col("nt") - F.col("ns")).alias("nx"),
            "v",
        )
    )
    score = F.when(
        F.col("excl") > 0, F.col("excl") / F.col("c1x").cast("double")
    ).otherwise(
        F.lit(SB_ALPHA) * (F.col("c2x") + 1) / (F.col("nx") + F.col("v")).cast("double")
    )
    # ADVICE r9: a double SUM is merge-order nondeterministic, and rounding
    # it to 4dp for a bit-exact compare leaves a latent half-boundary
    # straddle. Quantize each TERM to micro-units row-wise (identical IEEE
    # ops on both engines — the E73 per-row contract; floor(x+0.5), the
    # house HALF_UP-vs-rint-safe form) and sum BIGINTs: integer addition is
    # commutative, so the aggregate is order-immune by construction.
    q_micro = F.floor(
        F.col("cs") * -F.log(score) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    return (
        scored.groupBy("source")
        .agg(
            F.sum("cs").cast("long").alias("n_bigram_positions"),
            F.expr(
                "sum(CASE WHEN excl = 0 THEN cs ELSE 0 END) * 1000000 div sum(cs)"
            ).alias("backoff_ppm"),
            F.round(
                F.sum(q_micro) / F.lit(1000000.0) / F.sum("cs"), 4
            ).alias("avg_surprisal"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# E261: consistent-hash shard rebalance audit (minimal movement, certified)
# ---------------------------------------------------------------------------

CH_SHARDS = 16
CH_VNODES = 8
CH_NEW = CH_SHARDS  # the shard being added


def _ring(n_shards: int) -> list[str]:
    """Sorted ring entries '<16-hex point>:<2-digit shard>'. Lowercase-hex
    prefixes compare lexicographically exactly like the u64 they encode,
    so successor lookup is a plain string comparison in BOTH engines."""
    pts = []
    for s in range(n_shards):
        for vnode in range(CH_VNODES):
            h = hashlib.md5(f"ring:{s}:{vnode}".encode()).hexdigest()[:16]
            pts.append(f"{h}:{s:02d}")
    return sorted(pts)


_RING_BEFORE = _ring(CH_SHARDS)
_RING_AFTER = _ring(CH_SHARDS + 1)


def _sql_list(ring: list[str]) -> str:
    return "[" + ", ".join(f"'{e}'" for e in ring) + "]"


@query(
    "consistent_hash_rebalance",
    category="S7,P1,E261",
    oracle=f"""
WITH a AS (
  SELECT substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 1, 16) AS k
  FROM documents
), asg AS (
  SELECT
    CAST(substr(coalesce(
      list_min(list_filter({_sql_list(_RING_BEFORE)}, x -> substr(x, 1, 16) >= k)),
      '{_RING_BEFORE[0]}'), 18, 2) AS INT) AS s_before,
    CAST(substr(coalesce(
      list_min(list_filter({_sql_list(_RING_AFTER)}, x -> substr(x, 1, 16) >= k)),
      '{_RING_AFTER[0]}'), 18, 2) AS INT) AS s_after
  FROM a
), spine AS (
  SELECT unnest(range(0, {CH_SHARDS + 1})) AS shard
), bef AS (
  SELECT s_before AS shard, count(*) AS c FROM asg GROUP BY 1
), aft AS (
  SELECT s_after AS shard, count(*) AS c FROM asg GROUP BY 1
), mov AS (
  SELECT s_after AS shard, count(*) AS c FROM asg WHERE s_after <> s_before
  GROUP BY 1
)
SELECT CAST(spine.shard AS BIGINT) AS shard,
       CAST(coalesce(bef.c, 0) AS BIGINT) AS docs_before,
       CAST(coalesce(aft.c, 0) AS BIGINT) AS docs_after,
       CAST(coalesce(mov.c, 0) AS BIGINT) AS moved_in,
       (spine.shard = {CH_NEW} OR coalesce(mov.c, 0) = 0) AS minimal_movement_ok
FROM spine
LEFT JOIN bef ON bef.shard = spine.shard
LEFT JOIN aft ON aft.shard = spine.shard
LEFT JOIN mov ON mov.shard = spine.shard
ORDER BY shard
""",
)
def consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hashing rebalance plan: place every doc on a 16-shard
    ring (8 md5 vnodes per shard), add shard 16, and report per-shard
    occupancy before/after plus how many docs moved INTO each shard. The
    defining property — documents only ever move TO the new shard, ~1/17
    of them, never between survivors (vs hash-mod-N, which moves ~all) —
    is emitted as the oracle-pinned `minimal_movement_ok` column, putting
    the partitioning-design guarantee inside the correctness gate. This
    is the placement audit run before any 100 TB re-shard.

    Plan: successor lookup is IN-ROW — the 128/136-entry ring is a sorted
    array LITERAL baked into the plan (module-level hashlib, fully
    deterministic) and the clockwise successor is filter(ring, x >= key)
    [min] with wraparound to ring[0]; lowercase-hex prefixes order like
    the u64s they encode, so no integer conversion, no join, no shuffle
    until the final |shards|-row agg. The 17-row spine is a range().
    """
    d = load(spark, sf_dir, "documents")
    key = F.substring(
        F.md5(F.encode(F.concat(F.lit("doc:"), F.col("doc_id").cast("string")), "UTF-8")),
        1,
        16,
    )

    def assign(ring: list[str]) -> F.Column:
        arr = F.array(*[F.lit(e) for e in ring])
        succ = F.array_min(
            F.filter(arr, lambda x: F.substring(x, 1, 16) >= F.col("k"))
        )
        return F.substring(F.coalesce(succ, F.lit(ring[0])), 18, 2).cast("int")

    asg = d.select(key.alias("k")).select(
        assign(_RING_BEFORE).alias("s_before"), assign(_RING_AFTER).alias("s_after")
    )
    # Round 13 (guide §1.2): bef/aft/mov each replayed the corpus scan plus
    # BOTH in-row ring assignments (two 128/136-entry HOF filters per row —
    # the expensive part); one pass now folds the corpus into a ≤17×17
    # (s_before, s_after) cross-tab (map-side partial agg — the shuffle
    # carries ≤289 rows) and the three aggregates re-group that. Counts are
    # exact sums of exact counts — identical output.
    # Eager: AQE runs this frame's consumers as concurrent stages, and a
    # lazy checkpoint would cut their lineage under them (DAGScheduler
    # "non-existent accumulator" traces, PERF.md §75-76).
    xt = (
        asg.groupBy("s_before", "s_after")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    bef = xt.groupBy(F.col("s_before").alias("shard")).agg(
        F.sum("cnt").alias("docs_before")
    )
    aft = xt.groupBy(F.col("s_after").alias("shard")).agg(
        F.sum("cnt").alias("docs_after")
    )
    mov = (
        xt.where(F.col("s_after") != F.col("s_before"))
        .groupBy(F.col("s_after").alias("shard"))
        .agg(F.sum("cnt").alias("moved_in"))
    )
    spine = spark.range(CH_SHARDS + 1).select(F.col("id").cast("int").alias("shard"))
    return (
        spine.join(F.broadcast(bef), "shard", "left")
        .join(F.broadcast(aft), "shard", "left")
        .join(F.broadcast(mov), "shard", "left")
        .select(
            F.col("shard").cast("long").alias("shard"),
            F.coalesce("docs_before", F.lit(0)).cast("long").alias("docs_before"),
            F.coalesce("docs_after", F.lit(0)).cast("long").alias("docs_after"),
            F.coalesce("moved_in", F.lit(0)).cast("long").alias("moved_in"),
            (
                (F.col("shard") == F.lit(CH_NEW))
                | (F.coalesce("moved_in", F.lit(0)) == 0)
            ).alias("minimal_movement_ok"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# E262: zone-map skip-rate audit (layout A vs layout B)
# ---------------------------------------------------------------------------

#: rows per simulated file in the insertion-order layout (orderkey-chunked —
#: a fixed file SIZE, so the file count grows with the corpus, as on disk).
ZM_CHUNK = 1024
#: the probed workload: one full-calendar-year range scan per year.
ZM_YEARS = (1995, 1996, 1997, 1998, 1999, 2000)


@query(
    "zonemap_skip_rate",
    category="S7,P3,E262",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey // {ZM_CHUNK} AS file_a,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS file_b,
         strftime(l_shipdate, '%Y-%m-%d') AS d
  FROM lineitem
), za AS (
  SELECT file_a, min(d) AS lo, max(d) AS hi, count(*) AS c FROM li GROUP BY 1
), zb AS (
  SELECT file_b, min(d) AS lo, max(d) AS hi, count(*) AS c FROM li GROUP BY 1
), yrs AS (
  SELECT unnest([{", ".join(str(y) for y in ZM_YEARS)}]) AS y
), pred AS (
  SELECT y, CAST(y AS VARCHAR) || '-01-01' AS plo,
            CAST(y AS VARCHAR) || '-12-31' AS phi
  FROM yrs
), ra AS (
  SELECT y, count(*) AS files_total,
         sum(CASE WHEN hi < plo OR lo > phi THEN 1 ELSE 0 END) AS files_skipped,
         sum(CASE WHEN hi < plo OR lo > phi THEN 0 ELSE c END) AS rows_scanned
  FROM pred CROSS JOIN za GROUP BY y
), rb AS (
  SELECT y, count(*) AS files_total,
         sum(CASE WHEN hi < plo OR lo > phi THEN 1 ELSE 0 END) AS files_skipped,
         sum(CASE WHEN hi < plo OR lo > phi THEN 0 ELSE c END) AS rows_scanned
  FROM pred CROSS JOIN zb GROUP BY y
)
SELECT CAST(ra.y AS BIGINT) AS year,
       CAST(ra.files_total AS BIGINT) AS files_a,
       CAST(ra.files_skipped AS BIGINT) AS skipped_a,
       CAST(ra.rows_scanned AS BIGINT) AS rows_scanned_a,
       CAST(ra.files_skipped * 1000000 // ra.files_total AS BIGINT) AS skip_ppm_a,
       CAST(rb.files_total AS BIGINT) AS files_b,
       CAST(rb.files_skipped AS BIGINT) AS skipped_b,
       CAST(rb.rows_scanned AS BIGINT) AS rows_scanned_b,
       CAST(rb.files_skipped * 1000000 // rb.files_total AS BIGINT) AS skip_ppm_b
FROM ra JOIN rb ON ra.y = rb.y
ORDER BY year
""",
)
def zonemap_skip_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) skip-rate audit: how many simulated
    files a year-range scan can PRUNE under two layouts — A: insertion
    order (orderkey-chunked, fixed rows/file, the layout ingest produces)
    vs B: shipdate-month clustering (what OPTIMIZE/CLUSTER BY produces).
    Zone maps are exactly the parquet row-group / file min-max stats that
    drive data skipping at 100 TB; this query puts the layout decision's
    payoff (scan ~1/7th of the rows vs all of them) inside the hash gate.
    Complements E39 (z-order KEY construction) — this measures the SKIP
    RATE a layout actually delivers against a workload.

    Plan: one scan into two map-side-combinable zone-map aggs (outputs are
    |files| rows — thousands, not millions), cross-joined against a 6-row
    literal predicate spine. Dates compare as ISO strings (lexicographic =
    chronological; the house DATE-output rule). All emits exact integers.
    """
    li = load(spark, sf_dir, "lineitem").select(
        # Integer `div` mirrors the oracle's `//` exactly (ADVICE r9: the
        # old double-divide-then-truncate was only exact because ZM_CHUNK
        # is a power of two and keys are positive).
        F.expr(f"l_orderkey div {ZM_CHUNK}").alias("file_a"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("file_b"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("d"),
    )

    def zone(df: DataFrame, key: str) -> DataFrame:
        return df.groupBy(key).agg(
            F.min("d").alias("lo"), F.max("d").alias("hi"), F.count(F.lit(1)).alias("c")
        )

    pred = local_frame(
        spark,
        [(y, f"{y}-01-01", f"{y}-12-31") for y in ZM_YEARS], "y int, plo string, phi string"
    )
    skipped = (F.col("hi") < F.col("plo")) | (F.col("lo") > F.col("phi"))

    def rate(z: DataFrame, suffix: str) -> DataFrame:
        return (
            F.broadcast(pred)
            .crossJoin(z)
            .groupBy("y")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"files_{suffix}"),
                F.sum(F.when(skipped, 1).otherwise(0))
                .cast("long")
                .alias(f"skipped_{suffix}"),
                F.sum(F.when(skipped, 0).otherwise(F.col("c")))
                .cast("long")
                .alias(f"rows_scanned_{suffix}"),
            )
            .withColumn(
                f"skip_ppm_{suffix}",
                F.expr(f"skipped_{suffix} * 1000000 div files_{suffix}"),
            )
        )
    ra = rate(zone(li, "file_a"), "a")
    rb = rate(zone(li, "file_b"), "b")
    return (
        ra.join(rb, "y")
        .select(
            F.col("y").cast("long").alias("year"),
            "files_a",
            "skipped_a",
            "rows_scanned_a",
            "skip_ppm_a",
            "files_b",
            "skipped_b",
            "rows_scanned_b",
            "skip_ppm_b",
        )
        .orderBy("year")
    )


# ---------------------------------------------------------------------------
# E263: association rules over order baskets (support/confidence/lift)
# ---------------------------------------------------------------------------

AR_TOPK = 20


@query(
    "association_rules_copurchase",
    category="J1,A1,E263",
    oracle=f"""
WITH b AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), n AS (
  SELECT count(DISTINCT o) AS n FROM b
), singles AS (
  SELECT brand, count(*) AS s FROM b GROUP BY brand
), pairs AS (
  SELECT a.brand AS brand_a, c.brand AS brand_b, count(*) AS sp
  FROM b a JOIN b c ON a.o = c.o AND a.brand < c.brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b,
       CAST(sp AS BIGINT) AS pair_orders,
       CAST(sa.s AS BIGINT) AS orders_a,
       CAST(sb.s AS BIGINT) AS orders_b,
       CAST(sp * 1000000 // n.n AS BIGINT) AS support_ppm,
       CAST(sp * 1000000 // sa.s AS BIGINT) AS confidence_ppm,
       CAST(sp * 1000000 * n.n // sa.s // sb.s AS BIGINT) AS lift_ppm
FROM pairs
JOIN singles sa ON sa.brand = brand_a
JOIN singles sb ON sb.brand = brand_b
CROSS JOIN n
ORDER BY lift_ppm DESC, brand_a, brand_b
LIMIT {AR_TOPK}
""",
)
def association_rules_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: brand pairs
    co-purchased in the same order, ranked by lift — with exact-integer
    support/confidence/lift in ppm. The recommender/assortment primitive
    (Apriori's output layer) expressed relationally: baskets are bounded
    (a handful of brands per order), so the within-order pair self-join
    is |orders| x bounded², i.e. linear — the same sub-quadratic argument
    as banded MinHash, applied to transactions.

    Plan: the part dim joins with a merge hint (part GROWS with the
    corpus in TPC-H — broadcasting it is the r8 minhash trap), the pair
    generation is an orderkey equi-join of the deduped basket table with
    itself (brand_a < brand_b halves the output), and the brand tables
    (25 rows) ARE broadcast. lift_ppm = sp*1e6*N div sa div sb is
    two-step integer division — textually identical in both engines, so
    hash-exact (int64-safe to sp*N*1e6 < 9.2e18, i.e. ~x40 the x10 tier;
    widen to DECIMAL if ever exceeded).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(
            part.withColumnRenamed("p_partkey", "l_partkey").hint("merge"),
            "l_partkey",
        )
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand"))
        .distinct()
        # r12 (guide §1.2): N was an EAGER .count() that replayed the
        # join+distinct in a separate pass before the returned plan ran.
        # N now rides as a lazy 1-row countDistinct scalar crossJoined
        # back (the zonemap / join-cardinality 1-row idiom), so the whole
        # query is ONE plan and ReusedExchange shares the join+distinct
        # subtree across all four consumers (an explicit localCheckpoint
        # was A/B'd here and measured WORSE — it defeats exchange reuse
        # and pays a cache round-trip; see OPTIMIZATION_r12.md). Same
        # integer math — N is a column instead of an inlined Python
        # literal — so the output is unchanged.
    )
    n = b.agg(F.countDistinct("o").alias("n"))
    singles = b.groupBy("brand").agg(F.count(F.lit(1)).alias("s"))
    a2 = b.select(F.col("o"), F.col("brand").alias("brand_a"))
    c2 = b.select(F.col("o"), F.col("brand").alias("brand_b"))
    pairs = (
        a2.join(c2, "o")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("sp"))
    )
    sa = singles.select(F.col("brand").alias("brand_a"), F.col("s").alias("sa"))
    sb = singles.select(F.col("brand").alias("brand_b"), F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))  # 1-row scalar idiom
        .select(
            "brand_a",
            "brand_b",
            F.col("sp").cast("long").alias("pair_orders"),
            F.col("sa").cast("long").alias("orders_a"),
            F.col("sb").cast("long").alias("orders_b"),
            F.expr("sp * 1000000 div n").alias("support_ppm"),
            F.expr("sp * 1000000 div sa").alias("confidence_ppm"),
            F.expr("sp * 1000000 * n div sa div sb").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "brand_a", "brand_b")
        .limit(AR_TOPK)
    )


# ---------------------------------------------------------------------------
# E264: join-cardinality pre-estimation (the planning audit)
# ---------------------------------------------------------------------------

JC_TOPK = 10


@query(
    "join_cardinality_estimate",
    category="J1,A1,E264",
    oracle=f"""
WITH l AS (
  SELECT user_id AS k, count(*) AS cl FROM events GROUP BY 1
), r AS (
  SELECT o_custkey AS k, count(*) AS cr FROM orders GROUP BY 1
), j AS (
  SELECT l.k AS k, cl, cr, cl * cr AS contribution
  FROM l JOIN r ON l.k = r.k
), tot AS (
  SELECT sum(contribution) AS t FROM j
)
SELECT CAST(k AS BIGINT) AS user_id,
       CAST(cl AS BIGINT) AS n_events,
       CAST(cr AS BIGINT) AS n_orders,
       CAST(contribution AS BIGINT) AS contribution,
       CAST(t AS BIGINT) AS predicted_rows,
       CAST(contribution * 1000000 // t AS BIGINT) AS share_ppm
FROM j CROSS JOIN tot
ORDER BY contribution DESC, user_id
LIMIT {JC_TOPK}
""",
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality pre-estimation: the EXACT output size of
    events x orders on user key, computed from the two per-key count
    histograms (sum over keys of cl*cr) WITHOUT running the join — what a
    planner's ndv/histogram stats approximate, made exact. At 100 TB this
    is the audit run before committing to a join order: two map-side-
    combinable key-count aggs (output = |keys| rows each) replace the
    full join shuffle; the top contributing keys it returns are exactly
    the skew candidates E5's salting and AQE's skew-join would target.

    Plan: two groupBy counts, one |keys|-row equi-join of the count
    tables (both grow with the key domain — merge-hinted, not broadcast),
    a 1-row total broadcast back. All integers exact.
    """
    ev = load(spark, sf_dir, "events").groupBy(
        F.col("user_id").alias("k")
    ).agg(F.count(F.lit(1)).alias("cl"))
    od = load(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("cr"))
    j = ev.join(od.hint("merge"), "k").select(
        "k", "cl", "cr", (F.col("cl") * F.col("cr")).alias("contribution")
    )
    tot = j.agg(F.sum("contribution").alias("t"))
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("user_id"),
            F.col("cl").cast("long").alias("n_events"),
            F.col("cr").cast("long").alias("n_orders"),
            F.col("contribution").cast("long").alias("contribution"),
            F.col("t").cast("long").alias("predicted_rows"),
            F.expr("contribution * 1000000 div t").alias("share_ppm"),
        )
        .orderBy(F.desc("contribution"), "user_id")
        .limit(JC_TOPK)
    )


# ---------------------------------------------------------------------------
# E267: k-anonymity audit (the privacy gate before publishing)
# ---------------------------------------------------------------------------

#: minimum group size for a quasi-identifier combination to be publishable
KANON_K = 5


@query(
    "k_anonymity_audit",
    category="A1,A6,E267",
    oracle=f"""
WITH q AS (
  SELECT c.c_mktsegment AS seg, c.c_nationkey AS nat,
         year(o.o_orderdate) AS yr
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), g AS (
  SELECT seg, nat, yr, count(*) AS sz FROM q GROUP BY 1, 2, 3
)
SELECT seg AS mktsegment,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_groups,
       CAST(sum(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(sum(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) * 1000000
            // sum(sz) AS BIGINT) AS risk_ppm
FROM g
GROUP BY seg
ORDER BY mktsegment
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier combination
    (market segment, nation, order year): how many records sit in
    equivalence classes smaller than k=5 — the re-identification risk
    gate a governance team runs BEFORE an order history (or a training
    corpus's metadata) is published or joined into an LLM dataset. The
    complement to the PII surface (E66 redaction / masking): redaction
    hides direct identifiers; k-anonymity measures whether the REMAINING
    quasi-identifiers still single people out.

    Plan: one fact-dim equi-join (customer GROWS with SF — merge-hinted,
    never broadcast at 100 TB), one map-side-combinable group-size agg
    (output = |QI combinations| rows, thousands), one per-segment fold.
    All emits exact integers; risk_ppm is integer division.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    q = o.join(
        c.withColumnRenamed("c_custkey", "o_custkey").hint("merge"), "o_custkey"
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.year("o_orderdate").alias("yr"),
    )
    g = q.groupBy("seg", "nat", "yr").agg(F.count(F.lit(1)).alias("sz"))
    small = F.col("sz") < KANON_K
    return (
        g.groupBy("seg")
        .agg(
            F.sum("sz").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.when(small, 1).otherwise(0)).cast("long").alias("n_small_groups"),
            F.sum(F.when(small, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
            F.expr(
                f"sum(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) * 1000000"
                " div sum(sz)"
            ).alias("risk_ppm"),
        )
        .select(
            F.col("seg").alias("mktsegment"),
            "n_rows",
            "n_groups",
            "n_small_groups",
            "rows_at_risk",
            "risk_ppm",
        )
        .orderBy("mktsegment")
    )


# ---------------------------------------------------------------------------
# E268: run-length / sortedness encoding audit (storage-layout gate)
# ---------------------------------------------------------------------------


@query(
    "rle_sortedness_audit",
    category="S7,O1,E268",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_day, l_returnflag,
         l_orderkey // {ZM_CHUNK} AS file_ins,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS file_clu
  FROM lineitem
), runs AS (
  SELECT 'insertion' AS layout, 'ship_day' AS col,
         CASE WHEN lag(ship_day) OVER (PARTITION BY file_ins
              ORDER BY l_orderkey, l_linenumber, ship_day)
              IS DISTINCT FROM ship_day
              THEN 1 ELSE 0 END AS brk
  FROM li
  UNION ALL
  SELECT 'insertion', 'returnflag',
         CASE WHEN lag(l_returnflag) OVER (PARTITION BY file_ins
              ORDER BY l_orderkey, l_linenumber, l_returnflag)
              IS DISTINCT FROM l_returnflag
              THEN 1 ELSE 0 END
  FROM li
  UNION ALL
  SELECT 'clustered', 'ship_day',
         CASE WHEN lag(ship_day) OVER (PARTITION BY file_clu
              ORDER BY ship_day, l_orderkey, l_linenumber)
              IS DISTINCT FROM ship_day THEN 1 ELSE 0 END
  FROM li
  UNION ALL
  SELECT 'clustered', 'returnflag',
         CASE WHEN lag(l_returnflag) OVER (PARTITION BY file_clu
              ORDER BY l_returnflag, l_orderkey, l_linenumber)
              IS DISTINCT FROM l_returnflag THEN 1 ELSE 0 END
  FROM li
)
SELECT layout, col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(brk) AS BIGINT) AS n_runs,
       CAST((count(*) - sum(brk)) * 1000000 // count(*) AS BIGINT)
         AS rle_savings_ppm
FROM runs
GROUP BY layout, col
ORDER BY layout, col
""",
)
def rle_sortedness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding payoff audit: for two columns (ship day,
    return flag) under two file layouts — insertion order (orderkey-
    chunked, E262's layout A) vs per-file clustering on the column
    itself — count the value RUNS a columnar encoder would see and the
    RLE savings in ppm. Zone maps (E262) measure what a layout lets you
    SKIP; this measures what it lets you COMPRESS — the other half of
    the 100 TB layout decision (a clustered column RLEs to ~|distinct
    values| runs per file; an insertion-ordered one barely compresses).

    Plan: run breaks are a lag() over (file PARTITION BY, explicit total
    ORDER) — per-file independent window sorts, the same partition-sort
    shape as E238's per-source windows (no global sort at any scale);
    then one map-side-combinable 4-group fold. The row order inside each
    layout is an EXPLICIT sort key, never parquet arrival order — and the
    audited column is APPENDED to every sort key because
    (l_orderkey, l_linenumber) is not unique in the fixture (1,161 dup
    pairs with different ship dates): a tie that differs in the audited
    value would otherwise order nondeterministically and flip run counts
    run-to-run (observed: 5996 vs 5997 between two DuckDB sessions). All emits exact integers. Run counts
    use number-of-breaks (first row of each partition is not a break, so
    n_runs = breaks; savings = (rows - breaks)/rows — a monotone proxy
    shared by both engines).
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        "l_returnflag",
        # Integer `div`, not double-divide-and-truncate (ADVICE r9).
        F.expr(f"l_orderkey div {ZM_CHUNK}").alias("file_ins"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("file_clu"),
    )

    def runs(layout: str, col: str, file_col: str, order: list) -> DataFrame:
        w = Window.partitionBy(file_col).orderBy(*order)
        brk = F.when(
            ~F.lag(col).over(w).eqNullSafe(F.col(col)), 1
        ).otherwise(0)
        return li.select(
            F.lit(layout).alias("layout"), F.lit(col).alias("col"), brk.alias("brk")
        )

    all_runs = (
        runs("insertion", "ship_day", "file_ins", ["l_orderkey", "l_linenumber", "ship_day"])
        .unionAll(
            runs("insertion", "l_returnflag", "file_ins", ["l_orderkey", "l_linenumber", "l_returnflag"])
        )
        .unionAll(
            runs(
                "clustered",
                "ship_day",
                "file_clu",
                ["ship_day", "l_orderkey", "l_linenumber"],
            )
        )
        .unionAll(
            runs(
                "clustered",
                "l_returnflag",
                "file_clu",
                ["l_returnflag", "l_orderkey", "l_linenumber"],
            )
        )
    )
    return (
        all_runs.withColumn(
            "col", F.when(F.col("col") == "l_returnflag", "returnflag").otherwise(F.col("col"))
        )
        .groupBy("layout", "col")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("brk").cast("long").alias("n_runs"),
            F.expr("(count(1) - sum(brk)) * 1000000 div count(1)").alias(
                "rle_savings_ppm"
            ),
        )
        .orderBy("layout", "col")
    )
