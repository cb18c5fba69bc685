"""Corpus-curation operators (SURVEY.md §2.12 E17-E19): the filtering /
shaping stages of a training-data pipeline that sit between raw text and
tokenized batches — corpus-frequency boilerplate detection (C4-style),
within-document repetition scoring (Gopher-style), and sequence packing.

All three stay JVM-side: tokenization and n-gramming are higher-order array
functions (no Python in the hot path), the boilerplate document-frequency
table is one shuffle, and packing is a per-shard prefix sum. The HOFs are
interpreted, not compiled: the executed plans show the Filter and Project
that carry ``filter``/``transform`` outside whole-stage codegen (no ``*``).
A codegen-able ``array_remove``/``arrays_zip`` form showed no gain when
sized (PERF.md §76), so the HOF form stays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import query

#: tokens → distinct word-3-grams, as a reusable column expression.
_TOKENS = "filter(split(text, ' '), t -> t <> '')"
_GRAMS3 = (
    f"array_distinct(transform(sequence(1, greatest(size({_TOKENS}) - 2, 0)),"
    f" i -> concat_ws(' ', slice({_TOKENS}, i, 3))))"
)


@query(
    "boilerplate_ngram_flags",
    tags=("llm_bench",),
    category="L4,E17",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
  FROM toks
), exploded AS (
  SELECT doc_id, unnest(g) AS s FROM grams
), freq AS (
  SELECT s FROM exploded GROUP BY s HAVING count(*) >= 3
), hits AS (
  SELECT e.doc_id, count(*) AS n_boilerplate
  FROM exploded e JOIN freq f ON e.s = f.s
  GROUP BY e.doc_id
)
SELECT g.doc_id,
       CAST(len(g.g) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
       round(coalesce(h.n_boilerplate, 0) * 1.0 / len(g.g), 6) AS bp_frac
FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
ORDER BY g.doc_id
""",
)
def boilerplate_ngram_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate detection: a 3-gram occurring in ≥ 3 distinct
    documents is corpus-boilerplate; score each doc by the fraction of its
    distinct 3-grams that are boilerplate.

    Shape: per-doc distinct n-grams (HOFs, no shuffle) → explode → one
    groupBy for the corpus document-frequency table → semi-ish join back and
    re-aggregate per doc. The n-gram DF table is the only shuffle; a hot
    n-gram ("click here to subscribe") is a skew key, which AQE's skew-join
    split absorbs. The fixture corpus has no newlines, so the unit is the
    n-gram rather than C4's line — the plan is identical (line-hash ↔
    n-gram string).
    """
    from ..operators.dedup import materialized_shingles

    d = load(spark, sf_dir, "documents")
    # Codegen shingle rows, materialized once for the DF table, the
    # join-back and the per-doc sizes — the per-doc distinct-gram ARRAY
    # paid the interpreted HOF chain per pass (~12 s at sf0.1).
    sh = materialized_shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    freq = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 3)
        .select("s")
    )
    hits = (
        # merge hint: freq grows with the corpus, so neither side may be a
        # static broadcast (operators/dedup.shingle_pair_counts rationale).
        sh.hint("merge")
        .join(freq, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boilerplate"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("n_boilerplate", F.lit(0)).cast("long").alias("n_boilerplate"),
            F.round(
                F.coalesce("n_boilerplate", F.lit(0)) / F.col("n_grams"), 6
            ).alias("bp_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "repetition_score",
    category="L8,E18",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id, list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS grams
  FROM toks
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS total_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_grams,
       CASE WHEN len(grams) = 0 THEN 0.0
            ELSE round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
       END AS rep_frac
FROM g
ORDER BY doc_id
""",
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition: 1 − distinct/total 3-grams.

    High rep_frac marks degenerate generation-loop text ("the the the…");
    the Gopher/MassiveText filters threshold on exactly this family of
    signals. Total grams is a scalar off the token count (no gram strings
    built); the distinct count rides the codegen shingle-row form's one
    doc-keyed shuffle — everything whole-stage codegen, no interpreted
    HOF chain in the hot path.
    """
    from ..operators.dedup import shingle_rows

    d = load(spark, sf_dir, "documents")
    # Round 7 (PERF §43 pass-count rule applied here too): the in-row
    # transform/slice/concat_ws gram chain is interpreted, measured
    # 3.5 s at sf0.1; total grams is just greatest(n_tokens − 2, 0) (a
    # scalar — no gram strings needed), and the distinct count comes from
    # the codegen shingle_rows form (distinct per doc by construction).
    # 0.94 s at sf0.1, output row-identical to the HOF form.
    base = d.select(
        "doc_id",
        F.expr(f"greatest(size({_TOKENS}) - 2, 0)").cast("long").alias("total_grams"),
    )
    dist = (
        shingle_rows(d, n=3)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("distinct_grams"))
    )
    j = base.join(dist, "doc_id", "left")
    dcol = F.coalesce("distinct_grams", F.lit(0))
    return j.select(
        "doc_id",
        "total_grams",
        dcol.alias("distinct_grams"),
        F.when(F.col("total_grams") == 0, F.lit(0.0))
        .otherwise(F.round(F.lit(1.0) - dcol / F.col("total_grams"), 6))
        .alias("rep_frac"),
    ).orderBy("doc_id")


@query(
    "sequence_packing",
    category="L4,E19",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT doc_id, lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS batch_id
FROM c
ORDER BY doc_id
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to ≤512-token training batches, greedily
    in doc_id order within each language shard.

    batch_id = exclusive-prefix-sum(tokens) div budget — the doc that crosses
    a budget boundary starts in the batch where its prefix began, which is
    the standard greedy packing. Partitioned by lang: packing is per-shard by
    construction (a global order would serialize the prefix sum through one
    partition; real pipelines pack within shards for exactly that reason), so
    the window parallelizes across shards and scales with shard count.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.expr(f"size({_TOKENS})").cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("(cum - n_tokens) div 512").alias("batch_id"),
        )
        .orderBy("doc_id")
    )


@query(
    "curation_pipeline",
    tags=("llm_bench",),
    category="L8,E21",
    oracle="""
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, n_chars, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), q AS (
  SELECT * FROM toks
  WHERE n_chars BETWEEN 150 AND 400
    AND len(t) >= 25
    AND len(list_distinct(t)) * 1.0 / len(t) >= 0.3
), ex AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id,
               sha256(trim(regexp_replace(lower(text), '[ \\t\\r\\n\\x0B\\f]+', ' ', 'g'))) AS h
        FROM q)
  GROUP BY h
), s AS (
  SELECT q.* FROM q JOIN ex USING (doc_id)
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS g
  FROM s
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
  WHERE c * 1.0 / (x.n_sh + y.n_sh - c) >= 0.5
), sym AS (
  SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a WHERE s2.b <> r.a
), label AS (
  SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a
), canon AS (
  SELECT s.doc_id, s.lang, s.t
  FROM s LEFT JOIN label l ON s.doc_id = l.doc_id
  WHERE coalesce(l.comp, s.doc_id) = s.doc_id
), grams AS (
  SELECT doc_id, lang, t,
         list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                        i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS g
  FROM canon
), rep AS (
  SELECT doc_id, lang, len(t) AS n_tokens
  FROM grams
  WHERE len(g) = 0 OR 1.0 - len(list_distinct(g)) * 1.0 / len(g) <= 0.05
), c AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM rep
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS batch_id
FROM c
ORDER BY doc_id
""",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality gate → exact dedup → near-dup
    clustering (connected components, canonical survivor) → repetition
    filter → per-shard sequence packing — one lazy plan, one query.

    The composition IS the point: every stage is a declared operator
    (quality_filter L8, exact_dedup_docs L1, neardup_cc_clusters E12,
    repetition_score E18, sequence_packing E19) and Catalyst fuses their
    projections/filters into each other across stage boundaries — n-gram
    shingling and normalization never materialize between stages. At 100 TB
    this runs as: one scan of documents, the dedup-hash shuffle, the shingle
    shuffle for candidate pairs (tiny: only quality survivors), the O(log n)
    CC rounds on the pair graph (tinier: only near-dup docs), and the
    per-shard packing window — each stage's shuffle keyed on progressively
    less data, the funnel shape a curation pipeline should have.
    """
    from ..operators.dedup import exact_dedup, ngram_jaccard_pairs
    from ..operators.graph import attach_components

    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    with_toks = d.withColumn("t", toks)
    q = with_toks.where(
        F.col("n_chars").between(150, 400)
        & (F.size("t") >= 25)
        & (F.size(F.array_distinct("t")) / F.size("t") >= 0.3)
    )
    survivors = exact_dedup(q, text_col="text", id_col="doc_id").select("doc_id")
    # Three consumers (near-dup pair generation, the CC node frame, the
    # canonical-survivor join) otherwise each recompute the scan + quality
    # gate + dedup window, so the survivors are materialized once; only the
    # columns the branches need are kept so the frame stays narrow. Eager,
    # like operators/dedup.materialized_shingles: a lazy checkpoint read by
    # concurrent AQE stages prints "non-existent accumulator" traces
    # (PERF.md §75).
    s = (
        q.join(survivors, "doc_id")
        .select("doc_id", "lang", "text", "t")
        .localCheckpoint(eager=True)
    )
    pairs = ngram_jaccard_pairs(s, n=3, threshold=0.5).select("doc_a", "doc_b")
    labeled = attach_components(
        s.select("doc_id"), pairs, "doc_id", src="doc_a", dst="doc_b"
    )
    canon = s.join(
        labeled.where(F.col("component") == F.col("doc_id")).select("doc_id"),
        "doc_id",
    )
    grams = F.expr(
        "transform(sequence(1, greatest(size(t) - 2, 0)),"
        " i -> concat_ws(' ', slice(t, i, 3)))"
    )
    g = canon.select("doc_id", "lang", "t", grams.alias("g"))
    rep = g.where(
        (F.size("g") == 0)
        | (F.lit(1.0) - F.size(F.array_distinct("g")) / F.size("g") <= 0.05)
    ).select("doc_id", "lang", F.size("t").cast("long").alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rep.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("(cum - n_tokens) div 512").alias("batch_id"),
        )
        .orderBy("doc_id")
    )


# --- E221: cross-document exact repeated SPANS (suffix-style dedup primitive) -


@query(
    "repeated_span_flags",
    category="L2,E221",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS g
  FROM toks
), pos AS (
  SELECT doc_id,
         unnest(g) AS gram,
         unnest(range(1, len(g) + 1)) AS seq
  FROM grams
), dup AS (
  SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT p.doc_id, p.seq FROM pos p JOIN dup d ON p.gram = d.gram
), islands AS (
  SELECT doc_id, seq,
         seq - row_number() OVER (PARTITION BY doc_id ORDER BY seq) AS grp
  FROM flagged
), runs AS (
  SELECT doc_id, grp, count(*) AS len FROM islands GROUP BY doc_id, grp
), per_doc AS (
  SELECT doc_id,
         CAST(sum(len) AS BIGINT) AS n_dup_grams,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(max(len) + 2 AS BIGINT) AS max_span_tokens
  FROM runs GROUP BY doc_id
)
SELECT g.doc_id,
       CAST(len(g.g) AS BIGINT) AS n_grams,
       coalesce(p.n_dup_grams, 0) AS n_dup_grams,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.max_span_tokens, 0) AS max_span_tokens
FROM grams g LEFT JOIN per_doc p ON g.doc_id = p.doc_id
ORDER BY g.doc_id
""",
)
def repeated_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact repeated SPANS — the distributed form of the
    suffix-array exact-substring dedup primitive (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": cut exact
    duplicated substrings above a length threshold, don't drop whole docs).
    boilerplate_ngram_flags (E17) counts how MANY of a doc's 3-grams are
    corpus-frequent; this finds how LONG the contiguous duplicated runs
    are — a 50-token verbatim quote is one long span, not 48 independent
    grams, and span length is what the cut-vs-keep policy thresholds on.

    Plan: positional 3-gram rows via posexplode + lead over the doc-keyed
    window (the codegen shingle_rows shape, positions kept); duplicated
    grams = one groupBy(gram) with count_distinct(doc) ≥ 2 (map-side
    partial, AQE splits hot-gram skew); a left-semi join flags each doc's
    duplicated positions; maximal runs fall out of the gaps-and-islands
    window (seq − row_number is constant within a consecutive run) and one
    groupBy. Every stage is a key-partitioned shuffle of pre-aggregated or
    per-position rows — no pair join, no O(docs²) term, so at 100 TB the
    cost is the gram-frequency shuffle, exactly like boilerplate's. A run
    of k duplicated 3-gram positions covers k+2 tokens (max_span_tokens).
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split("text", " ")).alias("p", "t"),
    ).where(F.col("t") != "")
    w = Window.partitionBy("doc").orderBy("p")
    grams = (
        toks.select(
            "doc",
            (F.row_number().over(w)).alias("seq"),
            F.concat_ws(
                " ", F.col("t"), F.lead("t", 1).over(w), F.lead("t", 2).over(w)
            ).alias("gram"),
            F.lead("t", 2).over(w).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .drop("_last")
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    flagged = grams.join(dup, "gram", "left_semi").select("doc", "seq")
    w2 = Window.partitionBy("doc").orderBy("seq")
    runs = (
        flagged.select(
            "doc", (F.col("seq") - F.row_number().over(w2)).alias("grp")
        )
        .groupBy("doc", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    per_doc = runs.groupBy("doc").agg(
        F.sum("len").cast("bigint").alias("n_dup_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        (F.max("len") + 2).cast("bigint").alias("max_span_tokens"),
    )
    totals = grams.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    return (
        d.select(F.col("doc_id"))
        .join(totals, F.col("doc_id") == totals["doc"], "left")
        .drop(totals["doc"])
        .join(per_doc, F.col("doc_id") == per_doc["doc"], "left")
        .drop(per_doc["doc"])
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("max_span_tokens", F.lit(0))
            .cast("bigint")
            .alias("max_span_tokens"),
        )
        .orderBy("doc_id")
    )


# --- E223: span-cut plan (the ACTION for E221's detection) --------------------


@query(
    "repeated_span_cut_plan",
    category="L2,E223",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS g,
         len(t) AS n_tokens
  FROM toks
), pos AS (
  SELECT doc_id,
         unnest(g) AS gram,
         unnest(range(1, len(g) + 1)) AS seq
  FROM grams
), dup AS (
  SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT p.doc_id, p.seq FROM pos p JOIN dup d ON p.gram = d.gram
), islands AS (
  SELECT doc_id, seq,
         seq - row_number() OVER (PARTITION BY doc_id ORDER BY seq) AS grp
  FROM flagged
), runs AS (
  SELECT doc_id, min(seq) AS s, count(*) AS len FROM islands
  GROUP BY doc_id, grp HAVING count(*) >= 8
), iv AS (
  SELECT doc_id, s AS st, s + len + 1 AS en FROM runs
), marked AS (
  SELECT doc_id, st, en,
         CASE WHEN max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   >= st
              THEN 0 ELSE 1 END AS is_new
  FROM iv
), numbered AS (
  SELECT doc_id, st, en,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY st, en
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island_id
  FROM marked
), merged AS (
  SELECT doc_id, island_id, max(en) - min(st) + 1 AS cut_len
  FROM numbered GROUP BY doc_id, island_id
), per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_cut_spans,
         CAST(sum(cut_len) AS BIGINT) AS n_cut_tokens
  FROM merged GROUP BY doc_id
)
SELECT g.doc_id,
       CAST(g.n_tokens AS BIGINT) AS n_tokens,
       coalesce(p.n_cut_spans, 0) AS n_cut_spans,
       coalesce(p.n_cut_tokens, 0) AS n_cut_tokens,
       CAST(g.n_tokens AS BIGINT) - coalesce(p.n_cut_tokens, 0)
         AS n_tokens_after
FROM grams g LEFT JOIN per_doc p ON g.doc_id = p.doc_id
ORDER BY g.doc_id
""",
)
def repeated_span_cut_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT plan for E221's detection — Lee et al.'s policy is to excise
    exact duplicated substrings above a length threshold, not drop whole
    documents. Runs of ≥ 8 consecutive cross-doc-duplicated 3-gram
    positions (≥ 10 duplicated tokens) become token intervals
    [start, start+len+1]; intervals from nearby runs can OVERLAP (two runs
    separated by one clean gram position share up to 2 covered tokens), so
    per-doc interval MERGING — the running-cummax gaps-and-islands form:
    an interval starts a new island iff its start exceeds the max end seen
    so far — is required before token accounting double-counts the
    overlap. Output per doc: tokens before, merged cut spans, tokens cut,
    tokens after. All-integer arithmetic end to end — no rounding surface
    at all.

    Scale shape: everything through the run table is E221's plan (one
    gram-frequency shuffle, no pair join); the interval merge adds one
    doc-keyed window over rows-per-doc ≈ a handful of runs. The cummax
    frame is ROWS UNBOUNDED PRECEDING — Spark's incremental frame, O(1)
    per row (§41's distinction).
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split("text", " ")).alias("p", "t"),
    ).where(F.col("t") != "")
    w = Window.partitionBy("doc").orderBy("p")
    grams = (
        toks.select(
            "doc",
            F.row_number().over(w).alias("seq"),
            F.concat_ws(
                " ", F.col("t"), F.lead("t", 1).over(w), F.lead("t", 2).over(w)
            ).alias("gram"),
            F.lead("t", 2).over(w).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .drop("_last")
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    flagged = grams.join(dup, "gram", "left_semi").select("doc", "seq")
    w2 = Window.partitionBy("doc").orderBy("seq")
    runs = (
        flagged.select(
            "doc", "seq", (F.col("seq") - F.row_number().over(w2)).alias("grp")
        )
        .groupBy("doc", "grp")
        .agg(F.min("seq").alias("s"), F.count(F.lit(1)).alias("len"))
        .where(F.col("len") >= 8)
    )
    iv = runs.select(
        "doc", F.col("s").alias("st"), (F.col("s") + F.col("len") + 1).alias("en")
    )
    w3 = Window.partitionBy("doc").orderBy("st", "en")
    marked = iv.select(
        "doc",
        "st",
        "en",
        F.when(
            F.max("en").over(w3.rowsBetween(Window.unboundedPreceding, -1))
            >= F.col("st"),
            0,
        )
        .otherwise(1)
        .alias("is_new"),
    )
    numbered = marked.select(
        "doc",
        "st",
        "en",
        F.sum("is_new")
        .over(w3.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island_id"),
    )
    merged = numbered.groupBy("doc", "island_id").agg(
        (F.max("en") - F.min("st") + 1).alias("cut_len")
    )
    per_doc = merged.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cut_spans"),
        F.sum("cut_len").cast("bigint").alias("n_cut_tokens"),
    )
    n_tok = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    totals = d.select("doc_id", n_tok.cast("bigint").alias("n_tokens"))
    return (
        totals.join(per_doc, totals["doc_id"] == per_doc["doc"], "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_cut_spans", F.lit(0)).cast("bigint").alias("n_cut_spans"),
            F.coalesce("n_cut_tokens", F.lit(0)).cast("bigint").alias("n_cut_tokens"),
            (
                F.col("n_tokens") - F.coalesce("n_cut_tokens", F.lit(0))
            ).cast("bigint").alias("n_tokens_after"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# E228: tokenizer-vocabulary OOV rate per source
# ---------------------------------------------------------------------------

#: Vocabulary size for the OOV audit — small enough to exercise the
#: out-of-vocabulary path on the fixture's 31-term corpus at every SF.
OOV_VOCAB_SIZE = 20


@query(
    "oov_rate_by_source",
    category="L8,E228",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
           AS term
  FROM documents
), v AS (
  SELECT term FROM tok GROUP BY term
  ORDER BY count(*) DESC, term LIMIT {OOV_VOCAB_SIZE}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE term NOT IN (SELECT term FROM v))
            AS BIGINT) AS n_oov,
       CAST((count(*) FILTER (WHERE term NOT IN (SELECT term FROM v)))
            * 1000000 // count(*) AS BIGINT) AS oov_ppm
FROM tok GROUP BY source ORDER BY source
""",
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: fix the vocabulary to the
    corpus's OOV_VOCAB_SIZE most frequent terms (count-desc, term-asc —
    a total order, so the vocab is deterministic) and report each
    source's out-of-vocabulary token rate — the signal that decides
    whether a tokenizer trained on one mixture fits a new source before
    any model sees it (high OOV = fertility blow-up downstream).

    Plan: one term-keyed groupBy for frequencies, top-V via
    TakeOrderedAndProject (V-row driver merge), the V-row vocab
    broadcasts into a map-side left join over the token stream, and one
    source-keyed aggregate — at 100 TB the token stream is scanned once
    and nothing but ~V rows and #sources rows ever crosses the network.
    oov_ppm is integer `div` fixed point on both engines (no float).
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("term"),
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "term")
        .limit(OOV_VOCAB_SIZE)
        .select("term", F.lit(1).alias("in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_v").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .withColumn("oov_ppm", F.expr("(n_oov * 1000000) div n_tokens"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# E229: length-distribution drift — exact two-sample KS per source
# ---------------------------------------------------------------------------


@query(
    "length_drift_ks",
    category="L8,E229",
    oracle="""
WITH cnt AS (
  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY source, n_chars
), totx AS (
  SELECT n_chars, sum(c) AS ct FROM cnt GROUP BY n_chars
), cumx AS (
  SELECT n_chars, sum(ct) OVER (ORDER BY n_chars) AS cum_all,
         sum(ct) OVER () AS n_total
  FROM totx
), grid AS (
  SELECT s.source, x.n_chars, x.cum_all, x.n_total
  FROM (SELECT DISTINCT source FROM cnt) s CROSS JOIN cumx x
), g AS (
  SELECT grid.source, grid.n_chars, grid.cum_all, grid.n_total,
         coalesce(cnt.c, 0) AS c
  FROM grid LEFT JOIN cnt USING (source, n_chars)
), cum AS (
  SELECT source, n_chars, cum_all, n_total,
         sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s,
         sum(c) OVER (PARTITION BY source) AS n_s
  FROM g
), dd AS (
  SELECT source, n_chars, n_s, n_total - n_s AS n_r,
         abs(cum_s * (n_total - n_s) - (cum_all - cum_s) * n_s) AS d_raw
  FROM cum
), rk AS (
  SELECT source, n_chars, n_s, n_r, d_raw,
         row_number() OVER (PARTITION BY source
                            ORDER BY d_raw DESC, n_chars) AS rn
  FROM dd
)
SELECT source, CAST(n_s AS BIGINT) AS n_docs,
       CAST((d_raw * 1000000) // (n_s * n_r) AS BIGINT) AS ks_ppm,
       CAST(n_chars AS BIGINT) AS ks_at_nchars
FROM rk WHERE rn = 1 ORDER BY source
""",
)
def length_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: the exact two-sample Kolmogorov-
    Smirnov statistic of each source's doc-length distribution against
    the REST of the corpus — the per-source alarm that a crawl snapshot
    changed shape (truncation bug, boilerplate injection) before it
    poisons a training mixture.

    All-integer KS: with integer counts, sup_x |ECDF_s − ECDF_rest|
    maximizes |cum_s·N_r − cum_rest·N_s| (common denominator N_s·N_r),
    so the statistic is exact BIGINT arithmetic end to end — ppm fixed
    point by integer `div`, argmax location tie-broken to the smallest
    length; no float ever crosses engines. (int64 bounds the corpus at
    ~3e6 docs per side for the ppm product; beyond that the same plan
    runs in decimal(38,0)/HUGEINT.)

    Plan: one (source, n_chars) groupBy collapses the corpus to the
    support grid (≤ #sources × #distinct-lengths rows — lengths are
    domain-bounded, so the grid is tiny however big the corpus); the
    ECDFs are per-source window prefix sums over that grid; the global
    CDF is computed ONCE on the #lengths-row table and cross-joined. The
    100 TB cost is the single counting scan.
    """
    d = load(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    totx = cnt.groupBy("n_chars").agg(F.sum("c").alias("ct"))
    cumx = totx.select(
        "n_chars",
        F.sum("ct").over(Window.orderBy("n_chars")).alias("cum_all"),
        F.sum("ct").over(Window.partitionBy()).alias("n_total"),
    )
    grid = (
        cnt.select("source").distinct().crossJoin(F.broadcast(cumx))
    )
    g = grid.join(cnt, ["source", "n_chars"], "left").withColumn(
        "c", F.coalesce("c", F.lit(0))
    )
    wcum = Window.partitionBy("source").orderBy("n_chars")
    cum = g.select(
        "source",
        "n_chars",
        "cum_all",
        "n_total",
        F.sum("c").over(wcum).alias("cum_s"),
        F.sum("c").over(Window.partitionBy("source")).alias("n_s"),
    )
    dd = cum.select(
        "source",
        "n_chars",
        "n_s",
        (F.col("n_total") - F.col("n_s")).alias("n_r"),
        F.abs(
            F.col("cum_s") * (F.col("n_total") - F.col("n_s"))
            - (F.col("cum_all") - F.col("cum_s")) * F.col("n_s")
        ).alias("d_raw"),
    )
    rk = dd.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("d_raw"), "n_chars")
        ),
    )
    return (
        rk.where(F.col("rn") == 1)
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_docs"),
            F.expr("(d_raw * 1000000) div (n_s * n_r)").alias("ks_ppm"),
            F.col("n_chars").cast("long").alias("ks_at_nchars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# E230: curation funnel — cumulative filter attrition accounting
# ---------------------------------------------------------------------------


@query(
    "curation_funnel",
    category="L8,E230",
    oracle="""
WITH t AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
), f AS (
  SELECT len(t) AS n, len(list_distinct(t)) AS nd,
         list_max(list_transform(list_distinct(t),
                  u -> len(list_filter(t, x -> x = u)))) AS modal
  FROM t
), flags AS (
  SELECT n,
         (n >= 20) AS s1,
         (n >= 20 AND n <= 80) AS s2,
         (n >= 20 AND n <= 80 AND nd * 20 >= n * 9) AS s3,
         (n >= 20 AND n <= 80 AND nd * 20 >= n * 9 AND modal * 8 <= n) AS s4
  FROM f
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS c0, CAST(sum(n) AS BIGINT) AS t0,
         CAST(count(*) FILTER (WHERE s1) AS BIGINT) AS c1,
         CAST(coalesce(sum(n) FILTER (WHERE s1), 0) AS BIGINT) AS t1,
         CAST(count(*) FILTER (WHERE s2) AS BIGINT) AS c2,
         CAST(coalesce(sum(n) FILTER (WHERE s2), 0) AS BIGINT) AS t2,
         CAST(count(*) FILTER (WHERE s3) AS BIGINT) AS c3,
         CAST(coalesce(sum(n) FILTER (WHERE s3), 0) AS BIGINT) AS t3,
         CAST(count(*) FILTER (WHERE s4) AS BIGINT) AS c4,
         CAST(coalesce(sum(n) FILTER (WHERE s4), 0) AS BIGINT) AS t4
  FROM flags
)
SELECT 0 AS stage, 'raw' AS filter_name, c0 AS n_docs, t0 AS n_tokens FROM agg
UNION ALL SELECT 1, 'min_len_20', c1, t1 FROM agg
UNION ALL SELECT 2, 'max_len_80', c2, t2 FROM agg
UNION ALL SELECT 3, 'distinct_ratio_045', c3, t3 FROM agg
UNION ALL SELECT 4, 'modal_share_0125', c4, t4 FROM agg
ORDER BY stage
""",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-attrition funnel: the survivor count and surviving token
    mass after each stage of a cumulative quality-filter chain (min
    length → max length → lexical-diversity floor → modal-token-share
    cap) — the table every curation report leads with, because a stage
    that silently eats 40% of a source is a pipeline bug, not a quality
    win (the Gopher/C4 papers publish exactly this accounting).

    Every per-doc feature is ONE row-local higher-order expression (the
    modal count is an O(n·distinct) fold over the token array — bounded
    by doc length, no explode); ratio thresholds are integer
    cross-multiplications (nd/n ≥ 0.45 ⇔ 20·nd ≥ 9·n), so no float
    exists anywhere. The whole funnel is a single scan + one global
    aggregate emitting one row, unpivoted to the 5-stage table with
    stack() — at 100 TB it costs exactly one pass over the corpus.
    """
    d = load(spark, sf_dir, "documents")
    t = F.filter(F.split("text", " "), lambda x: x != "")
    f = d.select(
        F.size(t).alias("n"),
        F.size(F.array_distinct(t)).alias("nd"),
        F.array_max(
            F.transform(
                F.array_distinct(t),
                lambda u: F.size(F.filter(t, lambda x: x == u)),
            )
        ).alias("modal"),
    )
    s1 = F.col("n") >= 20
    s2 = s1 & (F.col("n") <= 80)
    s3 = s2 & (F.col("nd") * 20 >= F.col("n") * 9)
    s4 = s3 & (F.col("modal") * 8 <= F.col("n"))
    agg = f.agg(
        F.count(F.lit(1)).alias("c0"),
        F.sum("n").alias("t0"),
        *[
            x
            for i, s in enumerate([s1, s2, s3, s4], start=1)
            for x in (
                F.sum(s.cast("long")).alias(f"c{i}"),
                F.coalesce(
                    F.sum(F.when(s, F.col("n"))), F.lit(0)
                ).alias(f"t{i}"),
            )
        ],
    )
    return agg.selectExpr(
        "stack(5, "
        "0, 'raw', c0, t0, "
        "1, 'min_len_20', c1, t1, "
        "2, 'max_len_80', c2, t2, "
        "3, 'distinct_ratio_045', c3, t3, "
        "4, 'modal_share_0125', c4, t4) "
        "AS (stage, filter_name, n_docs, n_tokens)"
    ).orderBy("stage")
