"""Text-analysis pipeline over the documents corpus (SURVEY.md §2.10:
L4, L5, L6, L8, plus the mandated text-analysis extension: language-ID,
quality scoring, BPE-ish token counting, document fingerprinting)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load, local_frame
from ..registry import query

#: Tiny per-language marker lists for the n-gram/stopword language-ID
#: heuristic. The fixture corpus shares one analytics vocabulary across
#: langs, so this demonstrates the operator's shape (deterministic scoring +
#: argmax with tiebreak), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow", "value"),
    "de": ("der", "die", "das", "und", "nicht"),
    "es": ("el", "la", "los", "y", "datos"),
    "fr": ("le", "la", "les", "et", "vite"),
    "zh": ("shi", "de", "da", "xiao", "biao"),
}


@query(
    "token_frequency_top20",
    category="L4",
    oracle="""
SELECT t AS token, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
WHERE t <> ''
GROUP BY t
ORDER BY n DESC, token
LIMIT 20
""",
)
def token_frequency_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency: split → explode → count (top-20, tie-broken).
    At 100 TB the explode feeds a map-side-combined agg — no row blowup
    survives past the partial aggregate."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "tfidf_top_terms",
    category="L5",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok WHERE term <> '' GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((SELECT n_docs FROM n) * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3 AND doc_id < 50
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF as a declarative DataFrame composition (explode → tf/df aggs →
    df join → rank window): fully oracle-checkable, unlike HashingTF whose
    bucket hashing is engine-specific. Top-3 terms per doc for a stable doc
    subset.

    The term→df table is VOCABULARY-sized (Heaps: ~n^0.5 — 10^8+ types at
    100 TB), so it is deliberately NOT broadcast-hinted (VERDICT r9 #3 /
    PERF §54 rule: broadcast only provably bounded tables). Unhinted, AQE
    upgrades the join to broadcast at runtime only when the built side
    actually fits; at scale it stays a shuffle join on `term`."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "term", "tfidf")
    )


@query(
    "lang_partition_stats",
    category="L6",
    oracle="""
SELECT lang, count(*) AS docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
WHERE lang IN ('en', 'de', 'zh')
GROUP BY lang
ORDER BY lang
""",
)
def lang_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language routing/filtering stats (the partitioned-corpus shape:
    at scale this is the partitionBy('lang') sink's planning query)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.where(F.col("lang").isin("en", "de", "zh"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("lang")
    )


@query(
    "quality_filter",
    category="L8",
    oracle="""
WITH m AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_unique
  FROM documents
)
SELECT doc_id, lang, n_chars, n_tokens,
       round(n_unique * 1.0 / n_tokens, 6) AS uniq_ratio
FROM m
WHERE n_chars BETWEEN 150 AND 400
  AND n_tokens >= 25
  AND n_unique * 1.0 / n_tokens >= 0.3
""",
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-corpus quality gate: length bounds + token count + lexical
    diversity ratio (the standard cheap pre-training filters)."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    m = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
    )
    uniq_ratio = F.col("n_unique") / F.col("n_tokens")
    return (
        m.where(
            F.col("n_chars").between(150, 400)
            & (F.col("n_tokens") >= 25)
            & (uniq_ratio >= 0.3)
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "n_tokens",
            F.round(uniq_ratio, 6).alias("uniq_ratio"),
        )
    )


def _marker_score(lang: str) -> F.Column:
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t))).cast("long")


@query(
    "language_id_heuristic",
    category="L4,L6",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang AS actual_lang,
    {", ".join(
        "CAST(len(list_filter(string_split(text, ' '), t -> list_contains(["
        + ", ".join("'" + m + "'" for m in ms)
        + "], t))) AS BIGINT) AS score_" + lang
        for lang, ms in LANG_MARKERS.items()
    )}
  FROM documents
)
SELECT doc_id, actual_lang, score_en, score_de, score_es, score_fr, score_zh,
       CASE
         WHEN score_en >= greatest(score_de, score_es, score_fr, score_zh) THEN 'en'
         WHEN score_de >= greatest(score_es, score_fr, score_zh) THEN 'de'
         WHEN score_es >= greatest(score_fr, score_zh) THEN 'es'
         WHEN score_fr >= score_zh THEN 'fr'
         ELSE 'zh' END AS predicted_lang
FROM scored
""",
)
def language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID: per-language overlap scores + deterministic
    argmax (ties resolve in fixed lang order). The operator shape for
    corpus routing; accuracy is bounded by the fixture's shared vocabulary."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[_marker_score(lang).alias(f"score_{lang}") for lang in LANG_MARKERS],
    )
    s = {lang: F.col(f"score_{lang}") for lang in LANG_MARKERS}
    predicted = (
        F.when(s["en"] >= F.greatest(s["de"], s["es"], s["fr"], s["zh"]), "en")
        .when(s["de"] >= F.greatest(s["es"], s["fr"], s["zh"]), "de")
        .when(s["es"] >= F.greatest(s["fr"], s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return scored.select(
        "doc_id",
        "actual_lang",
        "score_en",
        "score_de",
        "score_es",
        "score_fr",
        "score_zh",
        predicted.alias("predicted_lang"),
    )


@query(
    "quality_score",
    category="L8",
    oracle="""
WITH m AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_unique,
         n_chars
  FROM documents
)
SELECT doc_id,
       round(0.4 * least(n_tokens / 50.0, 1.0)
           + 0.4 * (n_unique * 1.0 / n_tokens)
           + 0.2 * least(n_chars / 300.0, 1.0), 6) AS quality
FROM m
""",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length, diversity and char-volume terms —
    a deterministic analogue of fasttext-style quality classifiers."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    m = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        "n_chars",
    )
    quality = (
        0.4 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
        + 0.4 * (F.col("n_unique") / F.col("n_tokens"))
        + 0.2 * F.least(F.col("n_chars") / 300.0, F.lit(1.0))
    )
    return m.select("doc_id", F.round(quality, 6).alias("quality"))


@query(
    "token_count_bpe_ish",
    category="L4",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') ) AS BIGINT) AS n_bpe_tokens,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_tokens_estimate
FROM documents
""",
)
def token_count_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: a BPE-ish regex segmentation count and the
    chars/4 heuristic every LLM pipeline uses for budgeting."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.ceil(F.col("n_chars") / 4.0).alias("n_tokens_estimate"),
    )


@query(
    "doc_fingerprint",
    category="L1,L4",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - 4, 0) + 1),
                        i -> md5(array_to_string(list_slice(t, i, i + 4), ' '))) AS hashes
  FROM toks
)
SELECT doc_id,
       CASE WHEN len(hashes) > 0 THEN list_min(hashes) ELSE NULL END AS fingerprint
FROM sh
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: md5 over every 5-token shingle, keep the
    lexicographic minimum; md5 is the cross-engine-stable hash.

    r13 (guide §4.1, the bpe_pair_counts class): shingles come from
    arrays_zip of five shifted slices + explode, so every md5 runs as ONE
    codegen'd call per row instead of inside an interpreted `transform`
    lambda (ABAB at sf0.1, `git show e396564:tools/ab_docfp_r13.py`:
    2.09 → 1.10 s, −47%).
    The min-per-doc groupBy partially aggregates map-side — each doc's
    tokens live in one row, hence one partition, so the exchange carries
    exactly ONE 16-byte row per document, corpus-size-proportional only in
    |docs|. explode_outer keeps short docs (z NULL → md5 guarded NULL →
    min() of nothing = NULL fingerprint) without a join-back."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    ln = F.greatest(F.size(toks) - 4, F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, ln) for i in range(5)])
    ex = d.select("doc_id", F.explode_outer(z).alias("z"))
    fp = F.when(
        F.col("z").isNotNull(),
        F.md5(
            F.encode(
                F.concat_ws(" ", *[F.col(f"z.{i}") for i in range(5)]), "UTF-8"
            )
        ),
    )
    return (
        ex.select("doc_id", fp.alias("fp"))
        .groupBy("doc_id")
        .agg(F.min("fp").alias("fingerprint"))
    )


@query(
    "chunk_sliding_window",
    category="L4,E45",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), starts AS (
  SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 40)) AS s
  FROM toks
)
SELECT doc_id, CAST(s // 40 AS INT) AS chunk_idx,
       CAST(least(50, len(t) - s) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(list_slice(t, s + 1, s + 50), ' ')) AS chunk_md5
FROM starts
ORDER BY doc_id, chunk_idx
""",
)
def chunk_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (size 50, stride 40 → 10-token overlap):
    the doc → context-window-sized-pieces step of a RAG / pretraining
    pipeline.

    Pure higher-order functions — sequence() for the window starts,
    transform+slice for the pieces, posexplode to rows — zero shuffle
    until the final sort, no Python. Chunks are emitted as md5 digests so
    the parity check pins exact chunk CONTENT without hauling full text
    through the comparison. Overlap (stride < size) is what preserves
    cross-boundary context; E19's sequence packing is the downstream
    consumer of these pieces.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks), F.lit(1)) - 1, F.lit(40)
    )
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, F.lit(50)))
    )
    ex = d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(F.lit(50), F.col("n_toks") - F.col("chunk_idx") * 40)
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.md5(F.col("chunk")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


@query(
    "pii_redaction",
    category="L8,E46",
    oracle=r"""
WITH synth AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.com or user' || CAST(doc_id + 7 AS VARCHAR)
              || '@test.org' AS raw
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, 'user[0-9]+@[a-z]+\.(com|org)'))
            AS BIGINT) AS n_emails,
       md5(regexp_replace(raw, 'user[0-9]+@[a-z]+\.(com|org)', '<EMAIL>',
                          'g')) AS redacted_md5
FROM synth
ORDER BY doc_id
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-detect and redact email addresses, counting
    hits per document — the compliance pass every corpus needs before
    training.

    The fixture corpus is synthetic vocabulary with no embedded PII, so
    deterministic fake emails are injected first (both engines derive the
    identical raw string from doc_id); detection/redaction then runs on
    real regex machinery: regexp_extract_all for the audit count,
    regexp_replace (global) for the scrub, md5 to pin the redacted
    content. All JVM-side string ops — at 100 TB this runs at scan speed
    with zero shuffle; the ORDER BY here exists only for the parity hash.
    """
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or user"),
        (F.col("doc_id") + 7).cast("string"),
        F.lit("@test.org"),
    )
    pat = r"user[0-9]+@[a-z]+\.(com|org)"
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all(raw, F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias("n_emails"),
            F.md5(F.regexp_replace(raw, pat, "<EMAIL>")).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "dataset_split_assign",
    category="P6,E47",
    oracle="""
SELECT CASE WHEN ((doc_id % 1000003) * 2654435761) % 100 < 80 THEN 'train'
            WHEN ((doc_id % 1000003) * 2654435761) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 2) AS avg_chars
FROM documents
GROUP BY split
ORDER BY split
""",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by multiplicative
    hashing of the document id — the split that stays STABLE as the corpus
    grows, unlike randomSplit().

    randomSplit() reshuffles membership whenever the input changes
    (sampling is per-partition); keying the split to a hash of the id
    means adding documents never moves an existing one across splits — the
    property that keeps eval sets uncontaminated across corpus versions.
    Pure integer arithmetic (Knuth's 2654435761), identical in any engine,
    no shuffle beyond the final count. The id is mod-reduced by the prime
    1,000,003 BEFORE the multiply so the product stays under 2^63 for any
    bigint doc_id — unreduced, ids past ~3.47e9 overflow int64, where
    Spark wraps silently while DuckDB raises (the silent-divergence hazard
    ADVICE r6 flagged; poisson_bootstrap_ci set the pattern).

    MIGRATION NOTE (round 7 → 8, ADVICE r7): the mod-reduction changed the
    assignment for any doc_id ≥ 1,000,003 relative to rounds ≤ 6 — a
    one-time re-split event for large-id corpora. Eval sets built on the
    pre-r7 assignment are invalidated for such ids and must be rebuilt;
    the forward-stability guarantee (adding docs never moves existing
    ones) holds from r7 onward.
    """
    d = load(spark, sf_dir, "documents")
    b = ((F.col("doc_id") % 1000003) * 2654435761) % 100
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split")
    )
    return (
        d.groupBy(split)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("split")
    )


@query(
    "benchmark_decontamination",
    category="L2,E48",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 3, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 3), ' ')))) AS s
  FROM toks
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id < 5
), cand AS (
  SELECT doc_id, s FROM sh WHERE doc_id >= 5
), hits AS (
  SELECT c.doc_id, count(*) AS n_hit
  FROM cand c JOIN bench b ON c.s = b.s
  GROUP BY c.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM cand GROUP BY doc_id
)
SELECT z.doc_id, CAST(z.n_sh AS BIGINT) AS n_sh,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.n_hit, 0) * 1.0 / z.n_sh, 6) AS contamination
FROM sizes z LEFT JOIN hits h ON z.doc_id = h.doc_id
WHERE coalesce(h.n_hit, 0) > 0
ORDER BY contamination DESC, z.doc_id
""",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing 4-gram
    shingles with a held-out benchmark set (here: doc_id < 5 stands in
    for the eval suite) — the overlap check run before any serious
    pretraining job.

    Shingle both sides (operators/dedup.token_shingles), LEFT-broadcast-join
    the candidate stream against the benchmark shingle set and count total
    and matched shingles in ONE doc-keyed aggregation. The benchmark side
    is tiny by nature (its doc_id < 5 predicate pushes to the scan), so it
    broadcasts; the candidate corpus — the 100 TB side — is shingled and
    shuffled exactly once. (Round 13, guide §1.2: the sizes/hits split
    shingled the corpus twice and paid a doc-keyed join of the two
    aggregates; the left join keeps every candidate row — bench is
    distinct on s, so multiplicity is unchanged — and n_hit = count of
    matched markers, row-identical.)
    """
    from ..operators.dedup import shingle_rows

    d = load(spark, sf_dir, "documents")
    sh = shingle_rows(d, n=4)
    bench = (
        sh.filter(F.col("doc_id") < 5)
        .select("s")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    cand = sh.filter(F.col("doc_id") >= 5)
    return (
        cand.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            F.col("n_sh").cast("bigint").alias("n_sh"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.round(F.col("n_hit") / F.col("n_sh"), 6).alias("contamination"),
        )
        .filter(F.col("n_hit") > 0)
        .orderBy(F.desc("contamination"), "doc_id")
    )


@query(
    "unigram_logprob_score",
    category="L5,L8,E73",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
           AS term
  FROM documents
), freq AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term
), tot AS (
  SELECT sum(n) AS total FROM freq
), scored AS (
  SELECT t.doc_id,
         CAST(floor(-ln(f.n / (SELECT total FROM tot))
                    * CAST(1000000.0 AS DOUBLE) + 0.5) AS BIGINT) AS q_nlp
  FROM toks t JOIN freq f ON t.term = f.term
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(q_nlp) / CAST(1000000.0 AS DOUBLE) / count(*), 4)
         AS avg_neg_logprob
FROM scored
GROUP BY doc_id
ORDER BY avg_neg_logprob DESC, doc_id
LIMIT 50
""",
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: average negative log-probability of
    each document's tokens under the corpus's own unigram model — the
    cheap stand-in for LM-perplexity filtering (high score = tokens rare
    in-corpus = boilerplate-free but possibly noise; curation thresholds
    both tails).

    Two passes over the exploded tokens: one groupBy builds the unigram
    table, one join+groupBy scores docs. The unigram table is
    VOCABULARY-sized (Heaps ~n^0.5), so no broadcast hint — AQE may
    broadcast it at small tiers where it measurably fits; at 100 TB the
    join shuffles on `term` (PERF §54 rule, VERDICT r9 #3). The model is corpus-relative — no external LM, fully
    deterministic, which is what makes it hash-checkable (ln of exact
    count ratios; both engines compute identical IEEE ops). Top-50
    rarest-token docs returned with a full tiebreak.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("term")
    )
    # Round 13 (guide §1.2, the bigram_backoff_surprisal fix applied to its
    # name-giving contract): freq feeds TWO consumers — the corpus-total
    # scalar and the scoring join's build side — and the total was an EAGER
    # collect, so the corpus explode+aggregate ran three times per
    # invocation. One lazy localCheckpoint materializes freq once; the
    # total rides as the house lazy 1-row crossJoin scalar (sum of exact
    # longs cast to double ≡ float(total) bit-for-bit — integer < 2^53).
    freq = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = freq.agg(F.sum("n").cast("double").alias("__total"))
    # Per-token micro-unit quantization + exact BIGINT sum (round 10): a
    # double AVG is partial-merge-order sensitive and this is the E73
    # contract's name-giver — same order-immunity fix as
    # bigram_backoff_surprisal (ADVICE r9).
    q_nlp = F.floor(
        -F.log(F.col("n") / F.col("__total")) * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        toks.join(freq, "term")
        # 1-row side: stats-driven BNLJ broadcast, no forced hint (the
        # vocab-join guard tests reject any broadcast hint in this query).
        .crossJoin(tot)
        .select("doc_id", q_nlp.alias("q_nlp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("q_nlp") / F.lit(1000000.0) / F.count(F.lit(1)), 4
            ).alias("avg_neg_logprob"),
        )
        .orderBy(F.desc("avg_neg_logprob"), "doc_id")
        .limit(50)
    )


from ..registry import get_specs as _get_specs  # noqa: E402

_LANGID_ORACLE = _get_specs()["language_id_heuristic"].oracle


@query(
    "langid_confusion_matrix",
    category="L6,E74",
    oracle=f"""
WITH pred AS ({_LANGID_ORACLE})
SELECT actual_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
FROM pred
GROUP BY actual_lang, predicted_lang
ORDER BY actual_lang, predicted_lang
""",
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation inside the engine: confusion matrix of the
    L6 language-ID heuristic against the declared labels — the eval loop
    (predict → join truth → aggregate cells) that decides whether a
    routing heuristic is good enough to gate the corpus on.

    Composes the registered language_id_heuristic query (and its oracle,
    verbatim, as a CTE) rather than re-implementing the scorer — one
    definition, two checked surfaces. The matrix is |langs|² however
    large the corpus: aggregate early, eyeball late.
    """
    pred = _get_specs()["language_id_heuristic"].fn(spark, sf_dir)
    return (
        pred.groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual_lang", "predicted_lang")
    )


# --- E192 (extension): BPE merge-pair counting --------------------------------


@query(
    "bpe_pair_counts",
    category="L5,E192",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                               i -> t[i] || ' ' || t[i + 1])) AS pair
  FROM toks
)
SELECT pair,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 50
""",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of the BPE/WordPiece training inner loop: count every
    ADJACENT token pair across the corpus and rank the merge candidates —
    the step a distributed tokenizer trainer repeats until the vocab is
    full. (Full BPE iterates with re-tokenization; each iteration is
    exactly this shape, so the one-step count is the honest distributed
    primitive.)

    Scale: adjacent pairs come from an in-row zip of the token array with
    its own 1-shifted slice (zero shuffle — pairs never leave their
    executor until pre-aggregated), then ONE count shuffle on the pair key
    with map-side combine; the top-50 finishes as TakeOrderedAndProject.
    Pair frequency + document frequency together feed the merge policy.

    r12 (guide §4.1 "prefer built-ins with codegen"): the pair array was
    built with transform/element_at — an INTERPRETED higher-order-function
    chain, 4.95 s/pass at sf0.1. arrays_zip of two shifted slices produces
    the identical pairs through bulk array kernels: 1.10 s
    (`git show e396564:tools/ab_hof_pairs_r12.py`, output asserted
    identical). Same zero-shuffle shape, ~4.5x less per-task work.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    z = F.arrays_zip(F.slice(toks, 1, n1), F.slice(toks, 2, n1))
    pairs = d.select("doc_id", F.explode(z).alias("z")).select(
        "doc_id", F.concat_ws(" ", F.col("z.0"), F.col("z.1")).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


# --- E193 (extension): T5-style span-corruption mask generation ---------------


@query(
    "span_corruption_masks",
    category="L4,E193",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents WHERE doc_id < 200
), spans AS (
  -- candidate span starts every 8 tokens; a start is SELECTED when its
  -- md5 bucket (seedless, engine-recomputable) falls under the 40% rate;
  -- each selected span masks 3 tokens -> ~15% corruption.
  SELECT doc_id, g.start_pos
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - 2, 0) + 1, 8))
                  AS start_pos) g
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                 CAST(g.start_pos AS VARCHAR)), 1, 8))
             AS BIGINT) % 100 < 40
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(*) * 3 AS BIGINT) AS masked_tokens,
       array_to_string(list(CAST(start_pos AS VARCHAR) ORDER BY start_pos),
                       ',') AS span_starts
FROM spans
GROUP BY doc_id
ORDER BY doc_id
""",
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption mask plan: deterministic 3-token mask
    spans at a ~15% corruption rate, selected by a seedless
    md5(doc_id:pos) bucket so any engine — or a re-run on different
    cluster topology — derives the IDENTICAL masks. Reproducible masking
    is what makes a training run resumable and debuggable; RNG-per-task
    masking is not.

    Scale: candidate starts are a stride-8 sequence generated in-row
    (zero shuffle), the hash filter is a scan-level predicate, and the
    per-doc mask list aggregates on doc_id — the same single-shuffle
    shape as any per-document op. The emitted plan (doc, span starts) is
    what the masking UDF in the training loader consumes.
    """
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - 2, F.lit(0)), F.lit(8)
    )
    cand = d.select(
        "doc_id",
        F.explode(
            F.when(F.size(toks) >= 3, starts).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("start_pos"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("start_pos").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return (
        cand.where(bucket < 40)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            (F.count(F.lit(1)) * 3).alias("masked_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("start_pos")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("span_starts"),
        )
        .orderBy("doc_id")
    )


# --- E222: cross-split near-dup leakage audit ---------------------------------


@query(
    "split_leakage_audit",
    category="L2,E222",
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
         round(shared * 1.0 / (x.n_sh + y.n_sh - shared), 6) AS jaccard
  FROM shared
  JOIN sizes x ON doc_a = x.doc_id
  JOIN sizes y ON doc_b = y.doc_id
  WHERE shared * 1.0 / (x.n_sh + y.n_sh - shared) >= 0.5
), lab AS (
  SELECT jaccard,
         CASE WHEN ((doc_a % 1000003) * 2654435761) % 100 < 80 THEN 'train'
              WHEN ((doc_a % 1000003) * 2654435761) % 100 < 90 THEN 'val'
              ELSE 'test' END AS sa,
         CASE WHEN ((doc_b % 1000003) * 2654435761) % 100 < 80 THEN 'train'
              WHEN ((doc_b % 1000003) * 2654435761) % 100 < 90 THEN 'val'
              ELSE 'test' END AS sb
  FROM pairs
)
SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       max(jaccard) AS max_jaccard
FROM lab
WHERE sa <> sb
GROUP BY split_lo, split_hi
ORDER BY split_lo, split_hi
""",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-dup LEAKAGE audit: near-duplicate pairs that
    straddle the train/val/test boundary. benchmark_decontamination (E48)
    checks the corpus against an EXTERNAL benchmark; this closes the other
    leak — when val/test are carved from the same crawl as train, a
    near-duplicate of an eval document sitting in train inflates every
    metric, and hash-stable split assignment (E47) alone cannot prevent it
    because near-dups have DIFFERENT ids that hash to different splits.

    Composition of declared primitives, which is the point — the audit a
    pipeline runs is exactly this join of its own operators: exact 3-gram
    Jaccard pairs (threshold 0.5, shared-shingle equi-join candidate
    generation — no quadratic pair space) labeled with E47's Knuth-hash
    split on each side, filtered to split-crossing pairs, aggregated per
    (split, split) class. At 100 TB the only added cost over the pair scan
    is a constant-width projection: split labels are arithmetic on ids
    already present in the pair rows (mod-reduced before the Knuth
    multiply, same overflow-safe form as E47 — the two MUST stay one
    function or the audit labels a different split than E47 assigns). Zero leaking pairs is the passing
    state of a well-built corpus; the fixtures' planted near-dups land in
    different splits often enough to make the audit's positive path
    hash-checkable.
    """
    from ..operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5)

    def split_of(col: str):
        b = ((F.col(col) % 1000003) * 2654435761) % 100
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    lab = pairs.select(
        "jaccard", split_of("doc_a").alias("sa"), split_of("doc_b").alias("sb")
    )
    return (
        lab.where(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("split_lo", "split_hi")
    )


# ---------------------------------------------------------------------------
# E225: DSIR — hashed-n-gram importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

#: DSIR feature-space size: word bigrams hashed into this many buckets.
#: Small enough that BOTH n-gram models are one broadcastable table.
DSIR_BUCKETS = 512
#: The "target distribution" stand-in: docs from this source play the role
#: of the high-quality corpus (Wikipedia/books in the paper).
DSIR_TARGET_SRC = "src0"


@query(
    "dsir_importance_topdocs",
    category="L8,E225",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), big AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
  FROM toks
), feat AS (
  SELECT doc_id, (source = '{DSIR_TARGET_SRC}') AS is_target,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM big
), cnt AS (
  SELECT b,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS d
  FROM feat GROUP BY b
), tot AS (
  SELECT sum(c) AS ct, sum(d) AS dt FROM cnt
), lam AS (
  SELECT b, ln(c + 1.0) - ln(ct + {DSIR_BUCKETS}.0)
            - ln(d + 1.0) + ln(dt + {DSIR_BUCKETS}.0) AS lam
  FROM cnt CROSS JOIN tot
)
SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       floor(sum(CAST(floor(l.lam * 1000000 + 0.5) AS BIGINT))
             / 100.0 + 0.5) / 10000.0 AS dsir_logweight
FROM feat f JOIN lam l USING (b)
WHERE NOT f.is_target
GROUP BY f.doc_id
ORDER BY dsir_logweight DESC, f.doc_id
LIMIT 50
""",
)
def dsir_importance_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every raw document by its estimated
    log importance weight log p_target/q_raw under two hashed-bigram
    unigram models, and admit the top-scoring docs — the selection step
    that tilts a web-scale crawl toward a small high-quality target
    corpus without training a classifier.

    Model: word bigrams hashed (md5 prefix, the cross-engine idiom) into
    DSIR_BUCKETS buckets; p and q are Laplace-smoothed bucket frequencies
    over the target (source = src0) and raw (everything else) corpora;
    a doc's weight is the sum of per-occurrence log-ratios.

    Scale shape (the point at 100 TB): BOTH n-gram models together are a
    single 512-row table — one conditional groupBy over the exploded
    feature stream builds target and raw counts in the same pass
    (map-side partial agg collapses each task to ≤512 rows before the
    one tiny shuffle), the λ table broadcasts back, and scoring is a
    map-side hash join + one doc-keyed aggregation. Two scans, one
    512-key shuffle, one doc-keyed shuffle — no pair joins, nothing
    driver-side but the two scalar totals.

    Determinism: ln's inputs are integer-valued doubles identical on both
    engines (counts + smoothing), Math.log/libm agree to ≤1 ulp, and the
    4-dp round's guard band dwarfs the worst-case accumulated ulp noise —
    the unigram_logprob_score contract (ranking ties broken by doc_id
    before the LIMIT on both sides).
    """
    import math

    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    # Bigrams by zip_with of two shifted slices — one interpreted pass with
    # O(1) per element, measured ~4x faster than the per-position
    # slice-then-concat transform it replaces (each slice(toks, i, 2) call
    # allocated a fresh 2-array). Short docs (< 2 tokens) yield NULL and
    # vanish in the explode, matching the oracle's empty range.
    grams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    )
    feat = d.select(
        "doc_id",
        (F.col("source") == DSIR_TARGET_SRC).alias("is_target"),
        F.explode(grams).alias("g"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5(F.encode("g", "UTF-8")), 1, 8), 16, 10)
            .cast("long")
            % DSIR_BUCKETS
        ).alias("b"),
    )
    # The whole model is <= DSIR_BUCKETS rows: collect it ONCE and derive
    # the totals AND the lambda table driver-side (k-row scalar-merge
    # idiom), instead of one action for the totals and a second lineage for
    # lambda — that shape recomputed the corpus-wide feature stream three
    # times. Scoring below is then the only other corpus pass: two scans
    # total, one 512-key shuffle, one doc-keyed shuffle.
    cnt_rows = (
        feat.groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c"),
            F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("d"),
        )
        .collect()
    )
    ct = float(sum(r["c"] for r in cnt_rows))
    dt = float(sum(r["d"] for r in cnt_rows))
    k = float(DSIR_BUCKETS)
    lam = local_frame(
        spark,
        [
            (
                r["b"],
                math.log(r["c"] + 1.0)
                - math.log(ct + k)
                - math.log(r["d"] + 1.0)
                + math.log(dt + k),
            )
            for r in cnt_rows
        ],
        "b long, lam double",
    )
    return (
        feat.where(~F.col("is_target"))
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            # Round-11 sweep (VERDICT r10 weak #4): λ quantized to
            # micro-units per row (identical IEEE ops both engines — the
            # avg_surprisal treatment), BIGINT-summed so the per-doc
            # logweight — and therefore the top-50 ORDER — is
            # merge-order-immune instead of safe-by-magnitude. The 4dp
            # emission is the FLOOR form, not round(): the quantized sum
            # lands on exact x.xxxx5 boundaries by construction (micro
            # sums ending in 50), where Spark's HALF_UP and DuckDB's rint
            # disagree — caught live on doc 308 (549850 → 0.5499 vs
            # 0.5498) during this hardening.
            (
                F.floor(
                    F.sum(
                        F.floor(
                            F.col("lam") * F.lit(1000000.0) + F.lit(0.5)
                        ).cast("long")
                    )
                    / F.lit(100.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("dsir_logweight"),
        )
        .orderBy(F.desc("dsir_logweight"), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# E227: perplexity-band pruning (drop BOTH quality-score tails per source)
# ---------------------------------------------------------------------------


@query(
    "perplexity_band_prune",
    category="L8,E227",
    oracle="""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents
), freq AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term
), tot AS (
  SELECT sum(n) AS total FROM freq
), scored AS (
  SELECT t.doc_id, any_value(t.source) AS source,
         round(sum(CAST(floor(-ln(f.n / (SELECT total FROM tot))
                              * CAST(1000000.0 AS DOUBLE) + 0.5) AS BIGINT))
               / CAST(1000000.0 AS DOUBLE) / count(*), 4) AS nlp
  FROM toks t JOIN freq f ON t.term = f.term
  GROUP BY t.doc_id
), tiled AS (
  SELECT source, nlp,
         ntile(10) OVER (PARTITION BY source ORDER BY nlp, doc_id) AS dec
  FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE dec BETWEEN 2 AND 9) AS BIGINT) AS n_kept,
       min(CASE WHEN dec BETWEEN 2 AND 9 THEN nlp END) AS kept_min_nlp,
       max(CASE WHEN dec BETWEEN 2 AND 9 THEN nlp END) AS kept_max_nlp
FROM tiled
GROUP BY source
ORDER BY source
""",
)
def perplexity_band_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-band pruning: score each doc with the corpus-unigram
    perplexity proxy (E73's model), then within EVERY source drop both
    deciles — the bottom (too-predictable boilerplate) AND the top
    (too-surprising noise/gibberish) — keeping the middle band. Curation
    pipelines prune both tails because each tail fails differently; doing
    it per source keeps one crawl's scale from setting another's cutoffs.

    Plan: the two unigram_logprob_score passes (vocab groupBy → unhinted
    freq join [vocab-sized, so no forced broadcast — AQE decides;
    VERDICT r9 #3] → doc groupBy), then ONE window per source for the
    decile label and a per-source aggregate — the window's partition key
    is the source, so the 100 TB sort is many independent per-source
    sorts, not a global one. ntile over the total order (nlp, doc_id) is
    engine-deterministic (the ntile_spend_quartiles contract); the band
    is a label-range filter, no second scoring pass.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("term"),
    )
    # Round 13 (guide §1.2): same lazy-checkpoint + lazy-scalar treatment
    # as unigram_logprob_score — freq materializes once, the total stops
    # being an eager third corpus pass (see the E73 query for the
    # bit-equality argument).
    freq = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = freq.agg(F.sum("n").cast("double").alias("__total"))
    # Quantized order-immune nlp (round 10) — the E73/E260 fix applied to
    # this consumer of the same unigram model.
    q_nlp = F.floor(
        -F.log(F.col("n") / F.col("__total")) * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        toks.join(freq, "term")
        # unhinted 1-row side (see unigram_logprob_score)
        .crossJoin(tot)
        .select("doc_id", "source", q_nlp.alias("q_nlp"))
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.round(
                F.sum("q_nlp") / F.lit(1000000.0) / F.count(F.lit(1)), 4
            ).alias("nlp"),
        )
    )
    dec = F.ntile(10).over(
        Window.partitionBy("source").orderBy("nlp", "doc_id")
    )
    kept = F.col("dec").between(2, 9)
    return (
        scored.withColumn("dec", dec)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.min(F.when(kept, F.col("nlp"))).alias("kept_min_nlp"),
            F.max(F.when(kept, F.col("nlp"))).alias("kept_max_nlp"),
        )
        .orderBy("source")
    )


def _winnow_horner_sql(k: int, b: int, m: int) -> str:
    """Unrolled Horner rolling-hash expression for the DuckDB oracle (kept
    deliberately different in form from the Spark HOF fold so the two
    engines verify the same spec through independent computations)."""
    e = "CAST(ascii(substring(text, p, 1)) AS BIGINT)"
    for j in range(1, k):
        e = f"(({e}) * {b} + ascii(substring(text, p + {j}, 1))) % {m}"
    return e


def _winnow_selected_hof(
    spark: SparkSession, sf_dir: str, extra_cols: tuple = ()
) -> DataFrame:
    """Shared winnowing core: per document, the array of selected fingerprint
    hashes (`fph`, one entry per selected (hash, position) pair), plus any
    `extra_cols` carried through from the documents scan (cheaper than a
    doc-keyed join to fetch them back later). Entirely in-row HOFs, so the
    frame is scan-shaped: zero shuffles, zero explodes.

    Performance shape (interpreted-HOF arithmetic, so pass count matters —
    the naive per-position Horner fold was O(n·k) lambda steps on top of
    O(p)-seek substring() calls, ~30 s for the sf0.1 corpus; this form
    measured ~1 s):

      1. split the text into chars ONCE (kills the quadratic substring
         seeks), one `transform` to ascii codes;
      2. gram hashes by PAIRWISE DOUBLING — zip_with of shifted slices
         combining 1-char → 2-char → 4-char → 8-char Horner values,
         log2(k)=3 linear passes. ascii() yields full codepoints (up to
         0x10FFFF for non-ASCII text, same as the oracle's ascii), so the
         exact 4-char value maxes at ~1.9e13 (fits), and the 8-char
         combine reduces mod m first: ((t2a % m)·(257^4 % m) + t2b) % m
         ≤ (m−1)·67503107 + 1.9e13 < 2^63. Modular congruence makes this
         identical to the spec's per-step-mod Horner — no oracle change;
      3. packed (hash, inverted-pos) keys so least() is the
         rightmost-tiebroken argmin, then the w=4 window minimum by the
         same doubling (two zip_with passes of running pairwise least).
    """
    k, w, b, m = _WINNOW_K, _WINNOW_W, _WINNOW_B, _WINNOW_M
    assert k == 8 and w == 4, "doubling ladder below is laid out for k=8, w=4"
    b2, b4modm = b * b, (b ** 4) % m
    d = load(spark, sf_dir, "documents").where(F.length("text") >= k)
    coded = d.select(
        "doc_id",
        *extra_cols,
        (F.length("text") - (k - 1)).alias("n_grams"),
        F.expr("transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))").alias("cs"),
    )
    # 1→2→4→8-char Horner values via shifted-slice zip_with (doubling).
    hashed = (
        coded.withColumn(
            "t1",
            F.expr(
                f"""zip_with(slice(cs, 1, size(cs) - 1), slice(cs, 2, size(cs) - 1),
                             (x, y) -> x * {b} + y)"""
            ),
        )
        .withColumn(
            "t2",
            F.expr(
                f"""zip_with(slice(t1, 1, size(t1) - 2), slice(t1, 3, size(t1) - 2),
                             (x, y) -> x * {b2} + y)"""
            ),
        )
        .withColumn(
            "keys",
            F.expr(
                f"""transform(
                      zip_with(slice(t2, 1, size(t2) - 4), slice(t2, 5, size(t2) - 4),
                               (x, y) -> ((x % {m}) * {b4modm} + y) % {m}),
                      (v, i) -> shiftleft(v, 31) + ({m} - (i + 1)))"""
            ),
        )
    )
    # Window minima over w=4 consecutive keys, again by doubling: pairwise
    # least (m1, safe at any length), then least of m1 pairs two apart —
    # the latter stays inside the lazy CASE branch because its slice length
    # goes negative for docs with fewer than w grams, which instead fall
    # back to one whole-doc window (the standard winnowing short-document
    # contract; never hit on this corpus, whose min doc length is 48 chars).
    return hashed.withColumn(
        "m1",
        F.expr(
            """zip_with(slice(keys, 1, size(keys) - 1), slice(keys, 2, size(keys) - 1),
                        (x, y) -> least(x, y))"""
        ),
    ).select(
        "doc_id", *extra_cols, "n_grams",
        F.expr(
            f"""transform(
                  CASE WHEN n_grams < {w}
                       THEN array(array_min(keys))
                       ELSE array_distinct(
                              zip_with(slice(m1, 1, size(keys) - 3),
                                       slice(m1, 3, size(keys) - 3),
                                       (x, y) -> least(x, y)))
                  END,
                  sk -> shiftright(sk, 31))"""
        ).alias("fph"),
    )


#: Winnowing parameters: k-gram length, window size, polynomial base, and a
#: Mersenne-prime modulus that keeps every Horner step inside 2^63
#: (h < 2^31, so h*257 + codepoint < 2^40) and every packed (hash, pos)
#: selection key inside 2^62 (hash << 31 | inverted position).
_WINNOW_K, _WINNOW_W, _WINNOW_B, _WINNOW_M = 8, 4, 257, 2147483647


def _winnow_selected_arrow(
    spark: SparkSession, sf_dir: str, extra_cols: tuple = ()
) -> DataFrame:
    """mapInArrow twin of :func:`_winnow_selected_hof` (r13, guide §4.1/§4.2):
    the same scan-shaped zero-shuffle selection, but the per-character
    Horner/packing/window-min arithmetic runs as whole-batch NumPy int64
    kernels instead of interpreted zip_with/transform lambdas. Exactly one
    difference in the produced frame: ``fph`` lists each document's
    DISTINCT selected packed keys in ascending-key order rather than
    first-occurrence order — every consumer (sum/min/max/size aggregates,
    explode-to-set) is order-insensitive, and the A/B tool
    (`git show e396564:tools/ab_winnow_arrow_r13.py`) pins set equality per
    document.

    Only (doc_id, extra_cols, text) cross the Python boundary (§4.1:
    explicit select before an opaque operator), and each batch is one
    encode + ~10 vector ops — no per-row Python beyond the text list.
    """
    import pyspark.sql.types as T

    k, w, b, m = _WINNOW_K, _WINNOW_W, _WINNOW_B, _WINNOW_M
    assert k == 8 and w == 4, "NumPy ladder below is laid out for k=8, w=4"
    b2 = b * b
    b4modm = (b ** 4) % m

    d = load(spark, sf_dir, "documents").where(F.length("text") >= k)
    src = d.select("doc_id", *extra_cols, "text")
    in_fields = {f.name: f for f in src.schema.fields}
    out_schema = T.StructType(
        [in_fields["doc_id"]]
        + [in_fields[c] for c in extra_cols]
        + [
            T.StructField("n_grams", T.IntegerType(), False),
            T.StructField("fph", T.ArrayType(T.LongType(), False), False),
        ]
    )
    pass_names = ["doc_id", *extra_cols]

    def batches(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            texts = batch.column("text").to_pylist()
            lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
            codes = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            # Flat Horner ladder (1→2→4→8-char gram hashes); entries whose
            # gram crosses a document boundary are garbage and are never
            # selected by the per-doc gather below. Magnitude audit matches
            # the HOF form's docstring: codepoint ≤ 0x10FFFF keeps the
            # 4-char exact value < 2e13; the 8-char combine reduces mod m
            # first, so every product stays < 2^63.
            t1 = codes[:-1] * b + codes[1:]
            t2 = t1[:-2] * b2 + t1[2:]
            h = ((t2[:-4] % m) * b4modm + t2[4:]) % m
            starts = np.zeros(n, dtype=np.int64)
            starts[1:] = np.cumsum(lens[:-1])
            ng = lens - (k - 1)  # ≥ 1: the scan filtered length ≥ k
            total = int(ng.sum())
            cum = np.cumsum(ng)
            ragged = np.arange(total, dtype=np.int64) - np.repeat(cum - ng, ng)
            hh = h[np.repeat(starts, ng) + ragged]
            keys = (hh << 31) + (m - 1 - ragged)
            # w=4 window minima by pairwise doubling on the per-doc-packed
            # key array (cross-doc tails discarded by the gather).
            kstart = cum - ng
            ns = np.maximum(ng - (w - 1), 1)
            long_doc = ng >= w
            docidx = np.repeat(np.arange(n, dtype=np.int64), ns)
            cums = np.cumsum(ns)
            rs = np.arange(int(ns.sum()), dtype=np.int64) - np.repeat(
                cums - ns, ns
            )
            sel = np.empty(rs.shape[0], dtype=np.int64)
            lm = long_doc[docidx]
            if keys.shape[0] >= w:
                m1 = np.minimum(keys[:-1], keys[1:])
                wm = np.minimum(m1[:-2], m1[2:])
                sel[lm] = wm[np.repeat(kstart, ns)[lm] + rs[lm]]
            if not long_doc.all():
                mins = np.minimum.reduceat(keys, kstart)
                sel[~lm] = mins[docidx[~lm]]
            # per-doc distinct packed keys (ascending), then project to hash
            order = np.lexsort((sel, docidx))
            ds, ss = docidx[order], sel[order]
            keep = np.ones(ds.shape[0], dtype=bool)
            keep[1:] = (ds[1:] != ds[:-1]) | (ss[1:] != ss[:-1])
            ds, ss = ds[keep], ss[keep]
            counts = np.bincount(ds, minlength=n)
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(counts, out=offsets[1:])
            fph = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(ss >> 31, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in pass_names]
                + [pa.array(ng.astype(np.int32), type=pa.int32()), fph],
                names=[*pass_names, "n_grams", "fph"],
            )

    return src.mapInArrow(batches, out_schema)


#: Active winnow core: the Arrow/NumPy kernel. r13 ABAB at sf0.1
#: (`git show e396564:tools/ab_winnow_arrow_r13.py`, 4 alternated reps, one
#: session):
#: winnow_fingerprints 2.79→1.69 s (−39%), winnow_match_pairs 3.41→2.69 s
#: (−21%), ingest_neardup_gate 2.82→2.38 s (−16%). Both forms produce the
#: identical per-doc (n_grams, fph-set) frame (set equality pinned by the
#: A/B tool and tests/test_winnow.py).
_winnow_selected = _winnow_selected_arrow


#: Shared oracle CTE chain ending in `sel(doc_id, n_grams, wmin)` — the
#: DISTINCT selected packed keys per document, recomputed through a plan
#: genuinely different from the Spark HOF form (lateral unnest + windowed
#: min) so the two engines verify the winnowing spec independently.
_WINNOW_SEL_CTE = f"""
WITH d AS (
  SELECT doc_id, text, length(text) - {_WINNOW_K - 1} AS n_grams
  FROM documents WHERE length(text) >= {_WINNOW_K}
), g AS (
  SELECT doc_id, n_grams, p, ({_winnow_horner_sql(_WINNOW_K, _WINNOW_B, _WINNOW_M)}) AS h
  FROM d, unnest(generate_series(1, n_grams)) AS t(p)
), k AS (
  SELECT doc_id, n_grams, p, (h << 31) + ({_WINNOW_M} - p) AS key
  FROM g
), w AS (
  SELECT doc_id, n_grams, p,
         min(key) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS wmin,
         count(*) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS wcnt
  FROM k
), sel AS (
  SELECT DISTINCT doc_id, n_grams, wmin
  FROM w WHERE wcnt = {_WINNOW_W} OR (p = 1 AND n_grams < {_WINNOW_W})
)"""


@query(
    "winnow_fingerprints",
    category="L4,E234",
    oracle=f"""{_WINNOW_SEL_CTE}
SELECT doc_id, n_grams,
       count(*) AS n_fps,
       CAST(sum(wmin >> 31) AS BIGINT) AS fp_checksum,
       min(wmin >> 31) AS fp_min,
       max(wmin >> 31) AS fp_max,
       CAST(count(*) * 1000000 // n_grams AS BIGINT) AS density_ppm
FROM sel
GROUP BY doc_id, n_grams
ORDER BY doc_id
""",
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS scheme): Karp-Rabin rolling hash over every k=8 character gram,
    then each w=4 window of consecutive gram hashes selects its minimum with
    the RIGHTMOST-position tiebreak, guaranteeing any shared substring of
    length >= k + w - 1 = 11 chars yields a shared fingerprint. Complements
    `doc_fingerprint` (single global-min digest): this is the position-aware
    multi-fingerprint form real plagiarism/near-dup index builds use.

    Spark plan: the ENTIRE selection runs in-row through nested higher-order
    functions — one `transform` folds the Horner hash per position (the
    rolling-hash recurrence as an `aggregate` lambda), a second packs
    (hash, inverted-pos) into one BIGINT key so a plain `array_min` per
    window IS the tie-broken argmin, and `array_distinct` dedups windows
    agreeing on their choice. No explode, no shuffle: per-doc fingerprint
    stats come straight off the scan projection, so at 100 TB this is an
    embarrassingly parallel map over documents — the only exchange in the
    plan is the final tiny per-doc ORDER BY. O(n·w) work per doc with w=4
    beats any explode + doc-partitioned window sort (which would shuffle
    every gram row once and still serialize each doc into one task). The
    oracle recomputes the same spec through a genuinely different plan
    (lateral unnest + windowed min over the packed key) for independent
    verification; a python brute force pins both in tests/test_winnow.py.
    """
    selected = _winnow_selected(spark, sf_dir)
    return (
        selected.select(
            "doc_id", "n_grams",
            F.size("fph").cast("long").alias("n_fps"),
            F.expr("aggregate(fph, 0L, (a, x) -> a + x)").alias("fp_checksum"),
            F.array_min("fph").alias("fp_min"),
            F.array_max("fph").alias("fp_max"),
            # size() is INT — widen before the ppm multiply (same int32
            # overflow class as source_quality_percentile_cut's rn; a doc
            # with >2,147 fingerprints would overflow, and long docs at
            # corpus scale get there).
            F.expr(
                "CAST(size(fph) AS BIGINT) * 1000000 DIV n_grams"
            ).alias("density_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "winnow_match_pairs",
    category="L2,E235",
    oracle=f"""{_WINNOW_SEL_CTE}, fps AS (
  SELECT DISTINCT doc_id, wmin >> 31 AS fp FROM sel
), nd AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM fps
), dfreq AS (
  SELECT fp, count(*) AS df FROM fps GROUP BY fp
), rare AS (
  SELECT f.doc_id, f.fp
  FROM fps f JOIN dfreq USING (fp) CROSS JOIN nd
  WHERE df BETWEEN 2 AND least(greatest(2, n_docs // 50), 100)
), nr AS (
  SELECT doc_id, count(*) AS nr FROM rare GROUP BY doc_id
), pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared_fps, ca.nr AS rare_a, cb.nr AS rare_b,
       CAST(shared_fps * 1000000 // least(ca.nr, cb.nr) AS BIGINT) AS overlap_ppm
FROM pr JOIN nr ca ON ca.doc_id = pr.doc_a JOIN nr cb ON cb.doc_id = pr.doc_b
ORDER BY shared_fps DESC, doc_a, doc_b
LIMIT 50
""",
)
def winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style cross-document match candidates over winnowing
    fingerprints (the deterministic-guarantee complement to MinHash/LSH:
    a shared fingerprint PROVES a shared >= k-char substring, and any
    shared run >= k + w - 1 chars is guaranteed to surface). Per document
    the DISTINCT fingerprint set feeds a document-frequency filter that
    drops both singletons (df = 1 cannot pair) and stopword grams
    (df > min(max(2, n_docs/50), 100) — the MOSS "too common to be
    interesting" cull: relative at small corpora, ABSOLUTE (100) once the
    corpus outgrows it); survivors equi-join on fingerprint, and pairs
    rank by shared count with an overlap coefficient (shared / min set
    size) in integer ppm.

    Scale shape: the winnowing itself is the scan-shaped zero-shuffle HOF
    core (`_winnow_selected`); the df filter bounds every fingerprint's
    pair fan-out to df_cap^2 BEFORE the self-join, which is what keeps the
    candidate generation sub-quadratic at 100 TB (identical reasoning to
    the banded MinHash join); the final top-50 is TakeOrderedAndProject.
    The absolute leg of the cap is load-bearing (round 7, SCALE_SLOPE /
    PERF.md §45): with only the relative n_docs/50 cap, bucket sizes are
    ALLOWED to grow with the corpus and measured pair fan-out (Σ df² over
    surviving fps) scaled ×482 for a ×10 corpus — fitted exponent 1.5.
    Capping df at 100 bounds per-fp fan-out at 10^4 pairs, total ≤
    100·|fps| = O(corpus); a gram shared by hundreds of documents is
    boilerplate regardless of corpus size, so the cutoff is semantic, not
    just defensive. At the fixture tiers (n_docs ≤ 5,000) the relative
    term binds first, so results are bit-identical to the pre-cap form.
    The 1-row corpus-count frame cross-joins in (broadcast of one row),
    never a per-doc table. Oracle re-derives everything through the
    lateral-unnest winnowing plan plus plain SQL joins.
    """
    sel = _winnow_selected(spark, sf_dir)
    docfp = sel.select(
        "doc_id", F.explode(F.array_distinct("fph")).alias("fp")
    )
    # Every doc with >= k chars emits >= 1 fingerprint, so the corpus count
    # comes straight off the (cheap) documents scan instead of a second
    # winnow-core lineage; document frequency is a window count over fp so
    # docfp itself is referenced once. The culled frame is then
    # localCheckpoint()ed (eagerly): nr and both self-join sides reuse ONE
    # materialization of the winnow core instead of recomputing the HOF
    # pipeline per lineage branch — the same lineage-truncation idiom as
    # the CC rounds (operators/graph.py), and `rare` is the df-culled
    # fingerprint list (<= df_cap rows per fp), far smaller than the corpus.
    # Eager: AQE runs this frame's consumers as concurrent stages, and a
    # lazy checkpoint would cut their lineage under them (DAGScheduler
    # "non-existent accumulator" traces, PERF.md §75-76).
    ndocs = (
        load(spark, sf_dir, "documents")
        .where(F.length("text") >= _WINNOW_K)
        .select(F.count(F.lit(1)).alias("n_docs"))
    )
    rare = (
        docfp.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .crossJoin(ndocs)
        .where(
            (F.col("df") >= 2)
            & (F.col("df") <= F.expr("least(greatest(2, n_docs DIV 50), 100)"))
        )
        .select("doc_id", "fp")
        .localCheckpoint(eager=True)
    )
    nr = rare.groupBy("doc_id").agg(F.count("*").alias("nr"))
    pairs = (
        # merge hint: big-big fingerprint self-join; the checkpointed frame's
        # static size estimate is far under true size, and a statically
        # chosen broadcast cannot be demoted by AQE (dedup.py rationale, r8).
        rare.alias("a")
        .hint("merge")
        .join(
            rare.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_fps"))
    )
    return (
        pairs.join(
            nr.select(F.col("doc_id").alias("doc_a"), F.col("nr").alias("rare_a")),
            "doc_a",
        )
        .join(
            nr.select(F.col("doc_id").alias("doc_b"), F.col("nr").alias("rare_b")),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b", "shared_fps", "rare_a", "rare_b",
            F.expr(
                "CAST(shared_fps * 1000000 DIV least(rare_a, rare_b) AS BIGINT)"
            ).alias("overlap_ppm"),
        )
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
        .limit(50)
    )


@query(
    "source_quality_percentile_cut",
    category="L8,W1,E238",
    oracle="""
WITH m AS (
  SELECT doc_id, source,
         CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) * 1000000
              // len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS div_ppm
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) > 0
), r AS (
  SELECT source, div_ppm,
         row_number() OVER (PARTITION BY source ORDER BY div_ppm, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM m
), p AS (
  SELECT source, div_ppm, n,
         CASE WHEN n = 1 THEN 1000000
              ELSE (rn - 1) * 1000000 // (n - 1) END AS pr_ppm
  FROM r
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pr_ppm >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(min(CASE WHEN pr_ppm >= 500000 THEN div_ppm END) AS BIGINT) AS cut_div_ppm,
       CAST(max(div_ppm) AS BIGINT) AS max_div_ppm
FROM p
GROUP BY source
ORDER BY source
""",
)
def source_quality_percentile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile quality normalization — the CCNet/Gopher move
    of cutting each DOMAIN at its own quantile instead of one global
    threshold (a global cut empties low-resource sources and keeps every
    doc of verbose ones; a per-source P50 keeps the best half of EVERY
    source). Metric: lexical diversity in integer ppm (distinct/total
    tokens); percentile: exact (rank-1)/(n-1) in integer ppm with a
    (metric, doc_id) total order, so the cut is engine-portable — no
    float percent_rank, no approx quantiles.

    Scale shape: one scan, one window shuffle keyed by source (the same
    partitioning the per-source sink needs anyway), per-source summary
    emit. Skew-safe: the rank window is per source, and sources at 100 TB
    are further salt-split by the partitioned-sink layout upstream. Rank
    selection rather than an absolute threshold is the verify-skill rule:
    absolute cutoffs degenerate across scale tiers; P50 is meaningful at
    any corpus size.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    m = d.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
    ).where(F.col("n_tokens") > 0).select(
        "doc_id",
        "source",
        F.expr("n_unique * 1000000 DIV n_tokens").alias("div_ppm"),
    )
    ws = Window.partitionBy("source")
    r = m.select(
        "source",
        "div_ppm",
        F.row_number().over(ws.orderBy("div_ppm", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(ws).alias("n"),
    )
    p = r.select(
        "source",
        "div_ppm",
        "n",
        # row_number() is INT; unwidened, (rn-1)*1000000 overflows int32 the
        # moment a source holds >2,148 docs — fine at sf0.1 (~1k docs per
        # source), ANSI ARITHMETIC_OVERFLOW at the x10 tier, and a SILENT
        # divergence vs DuckDB (which auto-promotes) wherever ANSI is off.
        # Found by the round-8 full-surface x10 sweep; widen before the
        # multiply (n from count() is already BIGINT).
        F.when(F.col("n") == 1, F.lit(1000000))
        .otherwise(F.expr("(CAST(rn AS BIGINT) - 1) * 1000000 DIV (n - 1)"))
        .alias("pr_ppm"),
    )
    kept = F.col("pr_ppm") >= 500000
    return (
        p.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.min(F.when(kept, F.col("div_ppm"))).cast("long").alias("cut_div_ppm"),
            F.max("div_ppm").cast("long").alias("max_div_ppm"),
        )
        .orderBy("source")
    )


#: Shards per epoch for the reshuffle-independence audit: 16 x 16 cells.
EPOCH_SHARDS = 16


@query(
    "epoch_shuffle_independence",
    category="P6,E239",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 8)) AS BIGINT)
           % {EPOCH_SHARDS} AS s1,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':2'), 1, 8)) AS BIGINT)
           % {EPOCH_SHARDS} AS s2
  FROM documents
), c AS (
  SELECT s1, s2, count(*) AS cnt FROM s GROUP BY s1, s2
), t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
SELECT t.n AS n_docs,
       CAST({EPOCH_SHARDS * EPOCH_SHARDS} AS BIGINT) AS n_cells,
       CAST(count(*) AS BIGINT) AS occupied_cells,
       CAST(min(cnt) AS BIGINT) AS min_occupied_cell,
       CAST(max(cnt) AS BIGINT) AS max_cell,
       CAST(sum(({EPOCH_SHARDS * EPOCH_SHARDS} * cnt - t.n)
                * ({EPOCH_SHARDS * EPOCH_SHARDS} * cnt - t.n)) AS BIGINT)
         + ({EPOCH_SHARDS * EPOCH_SHARDS} - CAST(count(*) AS BIGINT)) * t.n * t.n
         AS chi2_num
FROM c CROSS JOIN t
GROUP BY t.n
""",
)
def epoch_shuffle_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-reshuffle independence audit: a training pipeline reshuffles
    the corpus every epoch by re-keying a deterministic hash with the epoch
    number; if the two epochs' shard assignments are NOT independent (a
    weak hash reusing structure across seeds), the loader re-feeds the
    same co-resident batches and effective shuffle quality collapses.
    The audit crosses epoch-1 and epoch-2 shard ids (16x16 cells) and
    emits the exact chi-square NUMERATOR in integer arithmetic:
    sum over all 256 cells of (256*cnt - n)^2, empty cells contributing
    n^2 — χ² = that / (256·n), but the division stays with the reader so
    the emit is hash-portable. Independence ⇒ χ² ≈ 255.

    int64 bound (same caveat length_drift_ks documents for its ppm
    product): the worst-case term is (255·n)² ≈ 6.5e4·n², so chi2_num
    fits int64 only up to n ≈ 1e7 docs — beyond that Spark WRAPS silently
    while DuckDB raises, a silent-divergence hazard. Past that corpus
    size, run the identical plan with the sum cast to decimal(38,0)
    (DuckDB HUGEINT) instead of long; kept long here because the fixture
    tiers sit orders of magnitude under the bound and bigint hashing is
    the cross-engine house idiom.

    Scale shape: one scan, one 256-key groupBy (map-side partials collapse
    every task to ≤256 rows before the only shuffle), one-row emit; the
    md5-prefix hash is the house cross-engine idiom (DSIR, doc_fingerprint)
    and epoch re-keying is just a different suffix — assignments stay
    stable under corpus growth exactly like dataset_split_assign.
    """
    d = load(spark, sf_dir, "documents")

    def shard(e: int) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.encode(F.concat(F.col("doc_id").cast("string"), F.lit(f":{e}")), "UTF-8")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % EPOCH_SHARDS
        )

    cells = (
        d.select(shard(1).alias("s1"), shard(2).alias("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ncells = EPOCH_SHARDS * EPOCH_SHARDS
    tot = d.select(F.count(F.lit(1)).alias("n"))
    return (
        cells.crossJoin(tot)
        .groupBy("n")
        .agg(
            F.lit(ncells).cast("long").alias("n_cells"),
            F.count(F.lit(1)).cast("long").alias("occupied_cells"),
            F.min("cnt").cast("long").alias("min_occupied_cell"),
            F.max("cnt").cast("long").alias("max_cell"),
            (
                F.sum(
                    (F.lit(ncells) * F.col("cnt") - F.col("n"))
                    * (F.lit(ncells) * F.col("cnt") - F.col("n"))
                )
                + (F.lit(ncells) - F.count(F.lit(1))) * F.col("n") * F.col("n")
            ).cast("long").alias("chi2_num"),
        )
        .select(
            F.col("n").cast("long").alias("n_docs"),
            "n_cells", "occupied_cells", "min_occupied_cell", "max_cell", "chi2_num",
        )
    )


#: Shared rare fingerprints a new document must have with SOME reference
#: document before the ingest gate flags it (a 3-fingerprint match means
#: three independent rare >= k-char shared substrings — strong evidence).
INGEST_GATE_SHARED = 3


@query(
    "ingest_neardup_gate",
    category="L2,E240",
    oracle=f"""{_WINNOW_SEL_CTE}, fps AS (
  SELECT DISTINCT doc_id, wmin >> 31 AS fp FROM sel
), nd AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM fps
), dfreq AS (
  SELECT fp, count(*) AS df FROM fps GROUP BY fp
), rare AS (
  SELECT f.doc_id, src.source, f.fp
  FROM fps f
  JOIN dfreq USING (fp)
  JOIN documents src USING (doc_id)
  CROSS JOIN nd
  WHERE df BETWEEN 2 AND least(greatest(2, n_docs // 50), 100)
), hits AS (
  SELECT n.doc_id, n.source, r.doc_id AS ref_doc, count(*) AS shared
  FROM rare n JOIN rare r ON n.fp = r.fp
  WHERE r.source = '{DSIR_TARGET_SRC}' AND n.source <> '{DSIR_TARGET_SRC}'
  GROUP BY n.doc_id, n.source, r.doc_id
), best AS (
  SELECT doc_id, source, max(shared) AS max_shared
  FROM hits GROUP BY doc_id, source
), batch AS (
  SELECT doc_id, source FROM documents
  WHERE source <> '{DSIR_TARGET_SRC}' AND length(text) >= {_WINNOW_K}
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN coalesce(max_shared, 0) >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref_linked,
       CAST(sum(CASE WHEN coalesce(max_shared, 0) >= {INGEST_GATE_SHARED} THEN 1 ELSE 0 END) AS BIGINT) AS n_gated,
       CAST(max(coalesce(max_shared, 0)) AS BIGINT) AS max_shared,
       CAST(sum(coalesce(max_shared, 0)) AS BIGINT) AS sum_shared
FROM batch b LEFT JOIN best USING (doc_id, source)
GROUP BY b.source
ORDER BY b.source
""",
)
def ingest_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-duplicate gate — the DAILY-BATCH shape every
    production corpus runs: new documents (every source but the reference)
    are checked against the EXISTING corpus (source = src0, the same
    reference DSIR treats as the target distribution) before admission,
    instead of re-deduplicating the whole corpus per ingest. Evidence is
    shared RARE winnowing fingerprints (the E235 machinery: each shared
    fingerprint PROVES a shared >= k-char substring; the df cull drops
    corpus-stopword grams), a new doc's score is its best single reference
    match, and the emit is per-source admission accounting: linked (>= 1
    shared), gated (>= INGEST_GATE_SHARED independent shared substrings),
    max/sum of best-match scores.

    Scale shape: the winnow core is the scan-shaped zero-shuffle HOF
    pipeline; the df cull (relative n_docs/50 AND absolute 100 — the
    absolute leg bounds fan-out at any corpus size, see winnow_match_pairs
    / PERF.md §45) bounds per-fingerprint fan-out BEFORE the
    batch x reference join, and the join's reference side is only the
    reference corpus's culled fingerprints (at 100 TB the ingest batch
    streams against a reference fingerprint index that this query's rare
    frame IS — materialize it once per day, not per batch). The culled
    frame is localCheckpoint()ed so batch and reference sides reuse one
    materialization (the E235 idiom).
    """
    sel = _winnow_selected(spark, sf_dir, extra_cols=("source",))
    docfp = sel.select(
        "doc_id", "source", F.explode(F.array_distinct("fph")).alias("fp")
    )
    ndocs = (
        load(spark, sf_dir, "documents")
        .where(F.length("text") >= _WINNOW_K)
        .select(F.count(F.lit(1)).alias("n_docs"))
    )
    rare = (
        docfp.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .crossJoin(ndocs)
        .where(
            (F.col("df") >= 2)
            & (F.col("df") <= F.expr("least(greatest(2, n_docs DIV 50), 100)"))
        )
        .select("doc_id", "source", "fp")
        .localCheckpoint(eager=False)
    )
    ref = rare.where(F.col("source") == DSIR_TARGET_SRC).select(
        F.col("doc_id").alias("ref_doc"), "fp"
    )
    new = rare.where(F.col("source") != DSIR_TARGET_SRC)
    best = (
        # merge hint: both sides are corpus-growing fingerprint sets off the
        # statically-underestimated checkpoint scan (dedup.py rationale, r8).
        new.hint("merge").join(ref, "fp")
        .groupBy("doc_id", "source", "ref_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .groupBy("doc_id", "source")
        .agg(F.max("shared").alias("max_shared"))
    )
    batch = (
        load(spark, sf_dir, "documents")
        .where(
            (F.col("source") != DSIR_TARGET_SRC)
            & (F.length("text") >= _WINNOW_K)
        )
        .select("doc_id", "source")
    )
    ms = F.coalesce("max_shared", F.lit(0))
    return (
        batch.join(best, ["doc_id", "source"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.sum((ms >= 1).cast("long")).alias("n_ref_linked"),
            F.sum((ms >= INGEST_GATE_SHARED).cast("long")).alias("n_gated"),
            F.max(ms).cast("long").alias("max_shared"),
            F.sum(ms).cast("long").alias("sum_shared"),
        )
        .orderBy("source")
    )


#: BPE trainer rounds. The oracle unrolls the same number of CTE rounds.
BPE_ROUNDS = 3


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE round for the DuckDB oracle: weighted adjacent-pair
    counts over the current vocab, deterministic argmax (count DESC, pair
    ASC), merge via left-to-right non-overlapping replace() on the
    double-separator symbol string, and post-merge vocab stats."""
    return f""", p{r} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, sum(cnt) AS c
  FROM (SELECT cnt, list_filter(string_split(s, '~~'), x -> x <> '') AS syms FROM v{r - 1}),
       unnest(range(1, greatest(len(syms) - 1, 0) + 1)) AS t(i)
  GROUP BY 1, 2
), m{r} AS (
  SELECT a, b, CAST(c AS BIGINT) AS c FROM p{r} ORDER BY c DESC, a, b LIMIT 1
), v{r} AS (
  SELECT w, cnt, replace(s, '~' || m{r}.a || '~~' || m{r}.b || '~',
                            '~' || m{r}.a || m{r}.b || '~') AS s
  FROM v{r - 1} CROSS JOIN m{r}
), s{r} AS (
  SELECT CAST(count(DISTINCT sym) AS BIGINT) AS n_symbols,
         CAST(sum(cnt) AS BIGINT) AS total_symbols
  FROM (SELECT cnt, unnest(list_filter(string_split(s, '~~'), x -> x <> '')) AS sym
        FROM v{r})
)"""


#: Shared oracle CTE chain: word vocab, char-split v0, then BPE_ROUNDS
#: unrolled merge rounds ending in v{BPE_ROUNDS} (m{r}/s{r} per round).
_BPE_VOCAB_CTE = f"""
WITH words AS (
  SELECT w, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
), v0 AS (
  SELECT w, cnt,
         '~~' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), '~~') || '~~' AS s
  FROM words
){"".join(_bpe_round_sql(r) for r in range(1, BPE_ROUNDS + 1))}"""


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Run the BPE merge loop; return (per-round vocab frames, merges).

    One corpus scan builds the (word, count) vocab; each round is a small
    pair-agg shuffle plus a 1-row argmax collect; every vocab generation is
    localCheckpoint()ed so lineage stays O(1) deep (kmeans/CC idiom)."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w", "cnt",
            F.concat(
                F.lit("~~"), F.array_join(F.split("w", ""), "~~"), F.lit("~~")
            ).alias("s"),
        )
    )
    vocab = words.localCheckpoint(eager=False)
    syms = "filter(split(s, '~~'), x -> x != '')"
    vocabs, merges = [], []
    for _ in range(BPE_ROUNDS):
        pairs = vocab.select(
            "cnt",
            F.explode(
                F.expr(
                    f"""zip_with(slice({syms}, 1, size({syms}) - 1),
                                 slice({syms}, 2, size({syms}) - 1),
                                 (x, y) -> struct(x AS a, y AS b))"""
                )
            ).alias("p"),
        ).select("cnt", "p.a", "p.b")
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()[0]
        )
        a, b, c = best["a"], best["b"], int(best["c"])
        vocab = vocab.withColumn(
            "s",
            F.replace(F.col("s"), F.lit(f"~{a}~~{b}~"), F.lit(f"~{a}{b}~")),
        ).localCheckpoint(eager=False)
        vocabs.append(vocab)
        merges.append((a, b, c))
    return vocabs, merges


@query(
    "bpe_learn_merges",
    category="L5,E244",
    oracle=f"""{_BPE_VOCAB_CTE}
{" UNION ALL ".join(
    f"SELECT CAST({r} AS BIGINT) AS round, m{r}.a AS pair_a, m{r}.b AS pair_b, m{r}.c AS pair_count, s{r}.n_symbols, s{r}.total_symbols FROM m{r} CROSS JOIN s{r}"
    for r in range(1, BPE_ROUNDS + 1)
)}
ORDER BY round
""",
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016), the real iterative
    merge loop — not just one round of pair counts (bpe_pair_counts): per
    round, weighted adjacent-symbol pair counts over the DISTINCT-WORD
    vocabulary, deterministic argmax (count DESC, pair lexicographic ASC),
    then the merge applied to every word LEFT-TO-RIGHT NON-OVERLAPPING.
    Emits per round: the learned merge, its count at selection time, and
    the post-merge vocab stats (distinct symbols, corpus-weighted total
    symbol count — the quantity whose decrease IS the compression gain).

    Scale shape — exactly how production trainers distribute: the corpus
    is scanned ONCE to build the (word, count) vocabulary (map-side
    combined groupBy); all BPE rounds then iterate over the vocab table,
    which is orders of magnitude smaller than the corpus (31 words here;
    ~10^7 at web scale — still one executor's worth). Each round is one
    small shuffle (pair agg) + a 1-row argmax collect (the k-row
    scalar-merge idiom, same as kmeans centroids), with the vocab
    localCheckpoint()ed per round so lineage stays O(1) deep.

    Merge determinism: symbols live in a '~~'-joined string and the merge
    is replace(s, '~a~~b~', '~ab~') — left-to-right non-overlapping scan
    of the SOURCE string, which both engines implement identically and
    which equals the classic BPE skip-scan on chains ('aaaa' -> aa,aa;
    'aaa' -> aa,a; verified cross-engine and against the python brute
    force in tests/test_bpe.py).
    """
    from functools import reduce

    vocabs, merges = _bpe_learn(spark, sf_dir)
    syms = "filter(split(s, '~~'), x -> x != '')"
    stats = []
    for r, (vocab, (a, b, c)) in enumerate(zip(vocabs, merges), start=1):
        ex = vocab.select("cnt", F.explode(F.expr(syms)).alias("sym"))
        stats.append(
            ex.agg(
                F.countDistinct("sym").alias("n_symbols"),
                F.sum("cnt").cast("long").alias("total_symbols"),
            ).select(
                F.lit(r).cast("long").alias("round"),
                F.lit(a).alias("pair_a"),
                F.lit(b).alias("pair_b"),
                F.lit(c).alias("pair_count"),
                F.col("n_symbols").cast("long"),
                "total_symbols",
            )
        )
    return reduce(lambda x, y: x.unionByName(y), stats).orderBy("round")


@query(
    "bpe_encode_corpus",
    category="L5,E245",
    oracle=f"""{_BPE_VOCAB_CTE}, wsyms AS (
  SELECT w, CAST(len(list_filter(string_split(s, '~~'), x -> x <> '')) AS BIGINT) AS n_sym,
         CAST(length(w) AS BIGINT) AS n_ch
  FROM v{BPE_ROUNDS}
), tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_ch) AS BIGINT) AS n_chars,
       CAST(sum(n_sym) AS BIGINT) AS n_tokens,
       CAST(sum(n_sym) * 1000000 // sum(n_ch) AS BIGINT) AS tokens_per_char_ppm
FROM tok JOIN wsyms USING (w)
WHERE w <> ''
GROUP BY doc_id
ORDER BY doc_id
""",
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the E244-learned BPE merges as a TOKENIZER — the train→encode
    loop closed: every document's words look up their post-merge symbol
    counts in the learned vocab, giving exact per-doc token counts and the
    tokens-per-character compression in integer ppm (the fertility number
    that decides context-window budgeting; compare token_count_bpe_ish's
    regex approximation).

    Scale shape: training cost is E244's (vocab-table rounds); encoding is
    ONE corpus scan — explode words, equi-join the (word → symbol count)
    table (vocab-sized; AQE broadcasts it when it fits, shuffles
    otherwise — no forced hint on a table that grows with the corpus), one
    doc-keyed aggregation. This word-level lookup IS how fast tokenizers
    encode (word cache in front of the merge machine); unseen-word
    fallback isn't exercised because the encode corpus equals the training
    corpus here, as the inner join makes explicit.
    """
    vocabs, _ = _bpe_learn(spark, sf_dir)
    syms = "filter(split(s, '~~'), x -> x != '')"
    wsyms = vocabs[-1].select(
        "w",
        F.expr(f"size({syms})").cast("long").alias("n_sym"),
        F.length("w").cast("long").alias("n_ch"),
    )
    tok = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    return (
        tok.join(wsyms, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_ch").cast("long").alias("n_chars"),
            F.sum("n_sym").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id", "n_words", "n_chars", "n_tokens",
            F.expr("n_tokens * 1000000 DIV n_chars").alias("tokens_per_char_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# E250: content-defined chunking (rolling-boundary CDC) + cross-doc dup chunks
# ---------------------------------------------------------------------------

#: CDC anchor window: a boundary decision looks at the last CDC_W tokens.
CDC_W = 4
#: Boundary rate: cut when the first md5 hex digit of the window is in
#: {'0','1'} — 2/16 = 1/8 of positions, so expected chunk length ≈ 8 tokens.
CDC_BOUNDARY_HEX = ("0", "1")


@query(
    "cdc_duplicate_chunks",
    category="L2,L4,E250",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
  FROM toks
), flagged AS (
  SELECT doc_id, i, t[i] AS tok,
         CASE WHEN i >= 4 AND substr(md5(array_to_string(
                    list_slice(t, i - 3, i), ' ')), 1, 1) IN ('0', '1')
              THEN 1 ELSE 0 END AS b
  FROM pos
), assigned AS (
  SELECT doc_id, i, tok,
         coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM flagged
), chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_md5,
         count(*) AS n_toks
  FROM assigned GROUP BY doc_id, chunk_id
)
SELECT chunk_md5,
       CAST(min(n_toks) AS BIGINT) AS n_chunk_tokens,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id
FROM chunks
GROUP BY chunk_md5
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occurrences DESC, chunk_md5
LIMIT 100
""",
)
def cdc_duplicate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) with cross-document duplicate-chunk
    detection — the storage-dedup / long-document-dedup primitive that
    fixed-stride chunking (E45) cannot provide: because boundaries are
    decided by the CONTENT of a rolling token window (cut after position i
    when md5 of tokens[i-3..i] starts with '0'/'1' — a 1/8 rate, ~8-token
    expected chunks), an insertion early in a document shifts every
    fixed-stride chunk but leaves all CDC chunks after the next anchor
    identical. That boundary self-synchronization is why CDC is the
    standard in dedup storage (LBFS/Venti lineage) and in repeated-passage
    mining over near-duplicate corpora.

    Determinism: the boundary test is a seedless md5 bucket (the E193
    idiom), so any engine or rerun derives identical chunks; DuckDB
    recomputes every boundary, chunk assignment, and digest from scratch.

    Scale: boundary flags are computed from lag() columns over the SAME
    doc-keyed window exchange the prefix-sum chunk assignment already
    requires (one exchange total — no per-position gram ever materializes
    off-row); chunk reassembly is a map-side-combinable (doc, chunk) agg
    on the SAME doc-keyed partitioning (no extra exchange); the cross-doc
    report shuffles only 16-byte digests keyed by chunk_md5; top-100 is
    TakeOrderedAndProject. Nothing is quadratic; the whole-corpus pair
    space is never formed.

    r12 (guide §4.1): the flags were an in-row transform(sequence, ...)
    computing md5 per position through an INTERPRETED HOF lambda (the
    bpe_pair_counts/shingle_rows lesson). The rolling 4-gram now comes
    from three lag() columns + concat_ws on the doc window — identical
    gram text (concat_ws skips the NULL lags at positions 1..3, and the
    explicit lag(3)-not-null guard reproduces the i >= CDC_W rule), with
    md5 running codegen'd per row. sf0.1 warm wall 3.22 → 2.05 s
    (OPTIMIZATION_r12.md); boundaries byte-identical (oracle-pinned).
    """
    d = load(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok")
    ).where(F.col("tok") != "")
    w_ord = Window.partitionBy("doc_id").orderBy("p")
    # Boundary flag: 1 when the 4-token window ENDING here hashes into the
    # cut bucket; the first CDC_W-1 filtered positions never cut (lag(3)
    # is NULL exactly there).
    gram = F.concat_ws(
        " ",
        F.lag("tok", 3).over(w_ord),
        F.lag("tok", 2).over(w_ord),
        F.lag("tok", 1).over(w_ord),
        F.col("tok"),
    )
    b = F.when(
        F.lag("tok", CDC_W - 1).over(w_ord).isNotNull()
        & F.substring(F.md5(gram), 1, 1).isin(*CDC_BOUNDARY_HEX),
        F.lit(1),
    ).otherwise(F.lit(0))
    flagged = ex.select("doc_id", "p", "tok", b.alias("b"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = flagged.select(
        "doc_id",
        F.col("p").alias("i"),
        "tok",
        F.coalesce(F.sum("b").over(w), F.lit(0)).alias("chunk_id"),
    )
    chunks = assigned.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("chunk_md5"),
        F.count(F.lit(1)).alias("n_toks"),
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.min("n_toks").cast("bigint").alias("n_chunk_tokens"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), "chunk_md5")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# E254: skip-gram token PMI (word-association mining)
# ---------------------------------------------------------------------------

#: Skip-gram context radius: pairs are formed at token offsets 1..SKIPGRAM_D.
SKIPGRAM_D = 2
#: Top associated pairs returned (full tiebreak below).
SKIPGRAM_TOPK = 50


@query(
    "token_skipgram_pmi",
    category="L5,E254",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), occ AS (
  SELECT unnest(t) AS w FROM toks
), marg AS (
  SELECT w, count(*) AS m FROM occ GROUP BY w
), tot AS (
  SELECT count(*) AS n_tok FROM occ
), pos AS (
  SELECT t, unnest(range(1, len(t) + 1)) AS i FROM toks
), pairs AS (
  SELECT least(t[i], t[i + d]) AS wa, greatest(t[i], t[i + d]) AS wb,
         count(*) AS c
  FROM pos, range(1, {SKIPGRAM_D} + 1) dd(d)
  WHERE i + d <= len(t)
  GROUP BY wa, wb
), ptot AS (
  SELECT sum(c) AS n_pair FROM pairs
)
SELECT wa, wb, CAST(c AS BIGINT) AS n_cooc,
       round(ln((c / CAST(n_pair AS DOUBLE)) /
                ((ma.m / CAST(n_tok AS DOUBLE)) *
                 (mb.m / CAST(n_tok AS DOUBLE)))), 6) AS pmi
FROM pairs
JOIN marg ma ON ma.w = wa
JOIN marg mb ON mb.w = wb
CROSS JOIN tot CROSS JOIN ptot
ORDER BY n_cooc DESC, wa, wb
LIMIT {SKIPGRAM_TOPK}
""",
)
def token_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram PMI between tokens (window ±2, unordered canonical
    pairs): the word-association statistic behind word2vec's training
    data, collocation extraction, and phrase mining — E75's PMI machinery
    moved from event space to token space, where the pair volume is
    corpus-scale and the plan shape matters.

    The two marginal tables are VOCABULARY-sized, so the PMI joins carry
    no broadcast hint (PERF §54 rule; VERDICT r9 #3) — AQE may upgrade
    them where they measurably fit, and at 100 TB they shuffle on the
    token key like any vocab-keyed agg.

    ZERO joins generate the pairs: for each offset d ∈ {1,2} the pair
    list is arrays_zip(t, slice(t, d+1)) built IN-ROW — the corpus is
    scanned once, no positional self-join, no doc-keyed shuffle; the only
    exchanges are the map-side-combinable pair/marginal aggs. Pair volume
    is exactly (2n − 3·docs) rows → linear, and the pair KEY space is
    vocabulary², kept sub-shuffle by partial aggregation. PMI itself is
    ln of exact count ratios (identical IEEE on both engines — the E75
    contract), round-6, top-50 under a total order.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    arms = [
        F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - k, F.lit(0))).alias("x"),
            F.slice(
                toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))
            ).alias("y"),
        )
        for k in range(1, SKIPGRAM_D + 1)
    ]
    # Round 11 (VERDICT r10 #4, the inflated-tier attribution): at a
    # vocabulary≈corpus tier the pair keys are ~all distinct, so partial
    # agg combines nothing and every lineage replay is full price. The
    # unfixed plan paid FOUR corpus-scale passes — pairs aggregated once
    # for the n_pair scalar and AGAIN in the final join tree, occ scanned
    # for n_tok and the marg agg replayed for both ma and mb branches.
    # One lazy localCheckpoint per reused frame collapses that to one
    # pairs pass + one marg pass, and n_tok comes from marg (sum of
    # marginals ≡ token count) instead of its own scan. Measured at the
    # 3.75M-type tier: 29.4 → 20.1 s (quarter tier 9.0 → 6.1 s); the SHJ
    # hints on the marginal joins below drop the two big sorts (plan
    # 4×SMJ → 0) for a further ~8% (18.4 s); identical rows at every SF.
    pairs = (
        d.select(F.explode(F.concat(*arms)).alias("p"))
        .select(
            F.least("p.x", "p.y").alias("wa"),
            F.greatest("p.x", "p.y").alias("wb"),
        )
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    occ = d.select(F.explode(toks).alias("w"))
    marg = occ.groupBy("w").agg(F.count(F.lit(1)).alias("m")).localCheckpoint(
        eager=False
    )
    n_tok = float(marg.agg(F.sum("m")).collect()[0][0])
    n_pair = float(
        pairs.agg(F.sum("c")).collect()[0][0]
    )
    # SHUFFLE_HASH (not broadcast — the PERF §54 vocab rule): build on the
    # |V|-row marginal side per partition, probe with the larger pair
    # stream, no sort of either side.
    ma = marg.select(F.col("w").alias("wa"), F.col("m").alias("ma")).hint(
        "shuffle_hash"
    )
    mb = marg.select(F.col("w").alias("wb"), F.col("m").alias("mb")).hint(
        "shuffle_hash"
    )
    return (
        pairs.join(ma, "wa")
        .join(mb, "wb")
        .select(
            "wa",
            "wb",
            F.col("c").cast("bigint").alias("n_cooc"),
            F.round(
                F.log(
                    (F.col("c") / F.lit(n_pair))
                    / (
                        (F.col("ma") / F.lit(n_tok))
                        * (F.col("mb") / F.lit(n_tok))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("n_cooc"), "wa", "wb")
        .limit(SKIPGRAM_TOPK)
    )
