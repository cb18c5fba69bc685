"""Retrieval-stack extensions (SURVEY.md §2.12 E146-E149).

The RAG/search-side counterpart of the L3 similarity family: metadata-
filtered vector search, inverted-index construction, BM25-style lexical
ranking, and epoch-weighted source replication (the data-mixing step of a
pretraining pipeline). All four are hash-checked against DuckDB oracles.

Determinism notes: BM25 here uses the *rational* Robertson idf
(N - df + 0.5)/(df + 0.5) WITHOUT the log — log()/ln() comes from libm and
may differ in the last ulp between the JVM and DuckDB's C runtime, while
+,-,*,/ on identical doubles are IEEE-exact on both. Term frequencies, doc
lengths and doc frequencies are exact integers, so every score is a
deterministic composition of exact inputs, rounded once at emit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..operators.similarity import cosine_topk_queries
from ..registry import query
from .llm_similarity import QUERY_MOD, TOPK

# --- E146: metadata-filtered ANN ---------------------------------------------

_FILTERED_ANN = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
), c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings WHERE label % 3 = 0
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
"""


@query("ann_filtered_topk", category="E146,L3", oracle=_FILTERED_ANN)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: top-5 cosine neighbors per query,
    restricted to corpus vectors whose label % 3 == 0 (the "tenant/ACL
    filter" of a production vector store).

    Scale: the predicate applies BEFORE any distance math — it prunes the
    parquet scan feeding mapInPandas, so the matmul only ever sees the
    eligible third of the corpus (pre-filtering beats post-filtering k',
    which under-fills top-k when the filter is selective). Same
    O(k·|Q|)-rows-shuffled contract as ann_topk_queries.
    """
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("label") % 3 == 0)
    queries = emb.where(F.col("vec_id") % QUERY_MOD == 0)
    out = cosine_topk_queries(corpus, queries, spark, k=TOPK)
    return out.withColumn("rank", F.col("rank").cast("int")).orderBy(
        "query_id", "rank"
    )


# --- shared tokenizer (exact same regex both engines) ------------------------

_TOK_SQL = """
  SELECT doc_id, t.term
  FROM documents,
       unnest(string_split_regex(
         lower(regexp_replace(text, '[^a-z0-9 ]', ' ', 'g')), ' +')) AS t(term)
  WHERE length(t.term) >= 3
"""


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) with multiplicity — regex identical to the oracle's."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.split(
                    F.lower(F.regexp_replace("text", r"[^a-z0-9 ]", " ")),
                    " +",
                )
            ).alias("term"),
        )
        .where(F.length("term") >= 3)
    )


# --- E147: inverted index build ----------------------------------------------

_INVERTED = f"""
WITH tok AS ({_TOK_SQL}),
d AS (SELECT DISTINCT doc_id, term FROM tok),
idx AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS df_count,
         array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20), ',')
           AS posting_head
  FROM d GROUP BY term
)
SELECT term, df_count, posting_head
FROM idx
ORDER BY df_count DESC, term
LIMIT 100
"""


@query("inverted_index_postings", category="E147,L5", oracle=_INVERTED)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term → document frequency + the first 20
    postings (sorted doc ids, comma-joined so the hash sees a scalar).

    Scale: tokenize → per-doc DISTINCT (map-side, bounded by doc vocab) →
    one shuffle on term. collect_set is bounded here by the tiny fixture
    vocabulary; at 100 TB the posting list per term is unbounded, so the
    head-slice (top-20 postings) is the honest contract — a full posting
    list would be a partitioned SINK (term-bucketed parquet), not a
    collected column. df ordering + term tiebreak keeps the top-100 stable.
    """
    d = _tokens(spark, sf_dir).distinct()
    return (
        d.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_count"),
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, 20), ","
            ).alias("posting_head"),
        )
        .orderBy(F.desc("df_count"), "term")
        .limit(100)
    )


# --- E148: BM25-style rational ranking ---------------------------------------

_BM25_TERMS = ("join", "vector", "scan")
_K1 = 1.2
_B = 0.75

_BM25 = f"""
WITH tok AS ({_TOK_SQL}),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS doclen FROM tok GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(doclen) AS BIGINT) AS total_len FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN {_BM25_TERMS!r} GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(
           (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B}
                 + {_B} * dl.doclen / (CAST(s.total_len AS DOUBLE) / s.n_docs)))
           * (s.n_docs - df.df + 0.5) / (df.df + 0.5)
         ) AS score_raw
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score_raw, 6) AS score
FROM scored
ORDER BY round(score_raw, 6) DESC, doc_id
LIMIT 20
"""


@query("bm25_rational_topdocs", category="E148,L5", oracle=_BM25)
def bm25_rational_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style lexical ranking for a fixed 3-term query, top-20 docs.
    Uses the rational Robertson idf (N-df+0.5)/(df+0.5) without the log:
    libm log() may differ in the last ulp between JVM and DuckDB while
    rational arithmetic over exact-integer tf/df/doclen is IEEE-identical,
    so the score hashes cross-engine (see module docstring).

    Scale: doc lengths and tf are one tokenize pass each (tf pre-filtered
    to the query terms at the scan); df is a 3-row aggregate and the corpus
    stats a 1-row aggregate — both broadcast into the per-doc score, so the
    only full-data shuffle is groupBy(doc_id) — and that exchange is
    docs-sized, not token-sized: a doc's exploded tokens stay in their scan
    task, so the map-side partial count collapses to ~1 row per doc before
    the shuffle. Round 13 tried two in-row doclen forms to drop the explode
    (filter(lambda)+size, then regexp_count of [a-z0-9]{3,} runs — see
    `git show e396564:tools/ab_bm25_r13.py`); both measured SLOWER (1.21 vs
    1.62 s ABAB min) because the in-row regex work costs more CPU than the
    already-collapsed exchange saves — declined with numbers. Top-20 finishes with
    TakeOrderedAndProject.
    """
    tok = _tokens(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doclen").alias("total_len"),
    )
    tf = (
        tok.where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    term_score = (
        (F.col("tf") * (_K1 + 1.0))
        / (F.col("tf") + _K1 * (1.0 - _B + _B * F.col("doclen") / avgdl))
        * (F.col("n_docs") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# --- E149: epoch-weighted source replication ---------------------------------

# Pretraining mixture: epochs per source bucket. Fractional part selects
# deterministically by md5(doc_id) so both engines pick the same rows.
_EPOCH_SQL_WEIGHT = "CASE WHEN source IN ('src0','src1') THEN 2.5 " \
                    "WHEN source IN ('src2','src3') THEN 1.25 ELSE 1.0 END"

_EPOCHS = f"""
WITH w AS (
  SELECT doc_id, source, {_EPOCH_SQL_WEIGHT} AS epochs
  FROM documents
),
full_copies AS (
  SELECT source, CAST(sum(CAST(floor(epochs) AS BIGINT)) AS BIGINT) AS n
  FROM w GROUP BY source
),
frac_picked AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n
  FROM w
  WHERE epochs > floor(epochs)
    AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 100 < CAST(round((epochs - floor(epochs)) * 100) AS BIGINT)
  GROUP BY source
)
SELECT f.source,
       f.n + COALESCE(p.n, 0) AS replicated_docs,
       CAST(round({_EPOCH_SQL_WEIGHT.replace("source", "f.source")} * 100)
            AS BIGINT) AS epochs_x100
FROM full_copies f LEFT JOIN frac_picked p USING (source)
ORDER BY f.source
"""


@query("source_epoch_replication", category="E149,L8", oracle=_EPOCHS)
def source_epoch_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted data mixing: each source gets a fractional epoch
    multiplier (2.5 / 1.25 / 1.0); integer part replicates every doc,
    fractional part admits a deterministic md5(doc_id)-keyed subset — the
    repetition schedule of an LLM pretraining mixture, seedless so any
    engine (or a re-run) selects the identical rows. Emits per-source
    replicated counts; the oracle recomputes the same md5 rule in SQL.

    Scale: replication is explode(sequence(1, floor(epochs))) — row count
    multiplies at the executor with zero shuffle; the fractional filter is
    a scan-level predicate. The count-by-source here verifies the rule;
    the production sink would write the exploded rows straight out,
    partitioned by source.
    """
    docs = load(spark, sf_dir, "documents")
    epochs = (
        F.when(F.col("source").isin("src0", "src1"), F.lit(2.5))
        .when(F.col("source").isin("src2", "src3"), F.lit(1.25))
        .otherwise(F.lit(1.0))
    )
    w = docs.select("doc_id", "source", epochs.alias("epochs"))
    full_copies = w.select(
        "source",
        F.explode(
            F.sequence(F.lit(1), F.floor("epochs").cast("int"))
        ).alias("rep"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    frac_sel = w.where(
        (F.col("epochs") > F.floor("epochs"))
        & (
            bucket
            < F.round((F.col("epochs") - F.floor("epochs")) * 100).cast(
                "bigint"
            )
        )
    ).select("source", F.lit(0).alias("rep"))
    return (
        full_copies.unionByName(frac_sel)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("replicated_docs"))
        .withColumn(
            "epochs_x100",
            F.round(
                (
                    F.when(F.col("source").isin("src0", "src1"), F.lit(2.5))
                    .when(F.col("source").isin("src2", "src3"), F.lit(1.25))
                    .otherwise(F.lit(1.0))
                )
                * 100
            ).cast("bigint"),
        )
        .orderBy("source")
    )


# --- E226: temperature-scaled mixture allocation ------------------------------

#: Token budget one "epoch" of the mixture draws (the unit the allocation
#: divides); arbitrary but shared verbatim by query and oracle.
MIXTURE_TOKEN_BUDGET = 1_000_000


@query(
    "temperature_mixture_allocation",
    category="L8,E226",
    oracle=f"""
WITH toks AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
           AS w_milli
  FROM toks
), alloc AS (
  SELECT source, n_docs, n_tokens, w_milli,
         CAST(({MIXTURE_TOKEN_BUDGET} * w_milli)
              // sum(w_milli) OVER () AS BIGINT) AS alloc_tokens
  FROM w
)
SELECT source, n_docs, n_tokens, w_milli, alloc_tokens,
       CAST((alloc_tokens * 1000) // n_tokens AS BIGINT) AS epochs_x1000
FROM alloc ORDER BY source
""",
)
def temperature_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (the GPT-3 / PaLM / mT5
    p_i ∝ n_i^α schedule at α = 0.5): upweight small sources relative to
    proportional sampling so the mixture isn't swamped by the largest
    crawl, then turn the weights into an integer token allocation of a
    fixed budget and the implied per-source repetition factor (epochs —
    the >1000 values are the small sources that get repeated, the
    quantity epoch-aware curation watches).

    Determinism (the retrieval-module contract — NO transcendentals):
    α = 1/2 makes the power an IEEE sqrt, which is CORRECTLY ROUNDED by
    spec on every engine — the one non-rational power with that
    guarantee; fixed-point milli-weights (floor(·*1000 + .5)) are then
    exact BIGINTs, and the allocation is integer arithmetic end to end
    (// on both sides — Spark's `div`; CAST would round in DuckDB and
    truncate in Spark). No cross-engine float sum ever happens: the only
    sum crossing rows (Σ w_milli) is over integers.

    Scale: one groupBy over the corpus (map-side partial agg → ~#sources
    rows), a #sources-row window for the weight total, all-integer math
    after the scan. The 100 TB cost is the single token-count scan.
    """
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
    )
    w = agg.withColumn(
        "w_milli",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000 + 0.5).cast(
            "long"
        ),
    ).withColumn(
        "total_w", F.sum("w_milli").over(Window.partitionBy())
    )
    return (
        w.withColumn(
            "alloc_tokens",
            F.expr(f"({MIXTURE_TOKEN_BUDGET} * w_milli) div total_w"),
        )
        .withColumn("epochs_x1000", F.expr("(alloc_tokens * 1000) div n_tokens"))
        .select(
            "source", "n_docs", "n_tokens", "w_milli", "alloc_tokens",
            "epochs_x1000",
        )
        .orderBy("source")
    )
