"""Relational core + headline queries (SURVEY.md §2: A1, A3, A5, J1, J5, W2,
F3, F9, L3, L4). These ten mirror BASELINE.md §4's bench set so the bench is
directly comparable, and they are the first parity-hardened slice.

Hash-parity conventions (SURVEY.md §5.4) applied throughout:
ROUND on float aggregates, identical aliases both sides, tiebreak keys under
every LIMIT, no raw ``events.ts`` projection, BIGINT casts in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load
from ..numeric import cents_avg4, cents_sum
from ..registry import query

# --- A1 flagship: pricing summary -----------------------------------------


@query(
    "pricing_summary",
    category="S1,A1",
    tags=("flagship", "bench"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0  AS sum_base_price,
       sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_disc_price,
       sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       floor(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) * 100.0
             / count(l_extendedprice) + 0.5) / 10000.0                  AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS cnt
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → pushed-down date filter → 2-phase hash agg → tiny sort.

    The scan reads only 7 of lineitem's 11 columns (ColumnPruning) and the
    date predicate reaches parquet row-group stats; at 100 TB this is a
    map-side-combined aggregation with a 6-row shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            cents_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            cents_sum(disc_price).alias("sum_disc_price"),
            cents_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            # Round-11 ×10 audit flag: round(avg(price)) at 5e4 magnitude
            # sits within two orders of the 4dp boundary at larger tiers.
            cents_avg4("l_extendedprice").alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- J1: multi-way join with broadcast dims --------------------------------


@query(
    "join_revenue_by_nation",
    category="J1,J9",
    tags=("bench",),
    oracle="""
SELECT n_name, sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: lineitem STREAMS, the filtered c⋈o side builds.

    nation⋈region collapses to a filtered broadcast dim before touching the
    facts; the ASIA filter prunes 4/5 of customers early. The lineitem join
    carries a SHUFFLE_HASH hint on the c⋈o side (round-6 ABAB,
    `git show e396564:tools/ab_jr_nohint_r6.py` + PERF.md §39): without it
    the static planner broadcasts LINEITEM — its pruned-scan estimate sits
    under the 10 MB threshold at bench tier, so the plan builds a 600 k-row
    hash relation
    and probes it with the ~30 k c⋈o rows (0.79 s min; backwards at any
    scale — you never build on the fact table). SHUFFLE_HASH builds on the
    smaller per-partition c⋈o side instead (0.58 s min, ties the forced-
    broadcast arm without its unbounded-broadcast scale hazard): both sides
    exchange on o_orderkey — the canonical fact-join shuffle — with no
    sort, and AQE's skew-join splitting covers SHJ (Spark ≥3.2).
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")

    asia_nations = n.join(
        F.broadcast(r.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")

    co = (
        c.join(F.broadcast(asia_nations), c.c_nationkey == F.col("n_nationkey"))
        .join(o, c.c_custkey == o.o_custkey)
        .select("n_name", "o_orderkey")
    )
    return (
        li.join(co.hint("shuffle_hash"), co.o_orderkey == li.l_orderkey)
        .groupBy("n_name")
        .agg(
            cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# --- W2: top-k per group ----------------------------------------------------


@query(
    "window_topk_orders",
    category="W1,W2",
    tags=("bench",),
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3
""",
)
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: rank window + filter (o_orderkey tiebreak).

    One shuffle on the window partition key; WindowGroupLimit pushes the
    rn<=3 limit into the sort at scale (Spark 3.5+ rank-limit pushdown).
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


# --- A3: exact count-distinct ----------------------------------------------


@query(
    "distinct_custs_by_priority",
    category="A3",
    tags=("bench",),
    oracle="""
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS unique_custs,
       count(*)                  AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def distinct_custs_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct engagers per priority: expand+two-phase agg in Spark."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("unique_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


# --- A5: rollup lattice -----------------------------------------------------


@query(
    "rollup_qty",
    category="A5",
    tags=("bench",),
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*)                  AS cnt
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
)
def rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotal lattice with grouping-id disambiguation of NULL rows."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "cnt")
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


# --- F3: time bucketing over the event stream -------------------------------


@query(
    "events_hourly",
    category="F3,A1",
    tags=("bench",),
    oracle="""
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d') AS event_date,
       CAST(hour(ts) AS INTEGER) AS event_hour,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id, event_type, strftime(ts, '%Y-%m-%d'), hour(ts)
ORDER BY n DESC, user_id, event_type, event_date, event_hour
LIMIT 100
""",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly activity heatmap. ts is ns-precision in parquet (Spark truncates
    to µs) so output carries an ISO date string + hour int, never raw ts and
    never a DATE column (DuckDB→pandas renders DATE as midnight datetime64,
    which would hash differently; SURVEY.md §5.4)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
            F.hour("ts").cast("int").alias("event_hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy(F.desc("n"), "user_id", "event_type", "event_date", "event_hour")
        .limit(100)
    )


# --- F9: JSON projection ----------------------------------------------------


@query(
    "json_extract_k",
    category="F9",
    tags=("bench",),
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS n
FROM events
GROUP BY 1
ORDER BY k
""",
)
def json_extract_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the dynamic JSON payload (events.props → $.k) and aggregate.

    Anchored-fast-path JSON projection (round 11, PERF §61): the regex
    ``\\A\\{[ \\t\\r\\n]*"k"[ \\t\\r\\n]*:[ \\t\\r\\n]*(-?(?:0|[1-9]\\d{0,8}))[ \\t\\r\\n]*\\}\\z``
    full-matches exactly the
    documents that are a flat single-key object with an int32-safe JSON
    integer — anchored with ``\\A``/``\\z`` (NOT ``^``/``$``: Java's ``$``
    matches before a trailing line terminator, so ``{"k":1}\\u2028`` would
    fast-path while Jackson rejects it) and whitespace restricted to
    JSON's own four characters (NOT ``\\s``, which in Java also matches
    ``\\x0B``/``\\f`` — not JSON whitespace). On a full match, $.k is
    unambiguous and the capture IS the
    answer; on anything else (nested, float, string-typed, >9 digits,
    null-valued, malformed, NULL) the per-row fallback is the schema'd
    Jackson parse (from_json), i.e. the exact pre-r11 semantics. coalesce
    is lazy in codegen and nullif('')→ANSI-safe cast makes "fast path
    missed" and "fallback must run" the same null, so the regex runs ONCE
    per row. Adversarially verified equal to pure from_json on 13 hostile
    shapes and on the full fixture
    (`git show e396564:tools/ab_json_extract_r11.py`).

    Why not from_json alone: the bench-tier events file is one 2 MB scan
    split, so the parse stage is a single task; a Jackson struct parse per
    row measured dp 0.24 s at sf0.1 vs 0.07 s for this form (3.3×). The
    r10 repartition idea is wrong-shaped both here (exchange of raw
    strings costs more than the parallel-parse saving once the parse is
    cheap: guard+hybrid measured 0.14 s) and at 100 TB (the scan is
    thousands of splits — already parallel). A multi-row-group events
    copy changed nothing (dp 0.26): Spark splits scans by file bytes, not
    row groups, so layout was never the lever; per-row parse cost was."""
    e = load(spark, sf_dir, "events")
    fast = F.regexp_extract("props", r'\A\{[ \t\r\n]*"k"[ \t\r\n]*:[ \t\r\n]*(-?(?:0|[1-9]\d{0,8}))[ \t\r\n]*\}\z', 1)
    k = F.coalesce(
        F.nullif(fast, F.lit("")).cast("int"),
        F.from_json("props", "k INT").getField("k"),
    )
    return (
        e.select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k")
    )


# --- O1-O3: global sort / limit / top-k --------------------------------------


@query(
    "orderby_nulls_topk",
    category="O1,O2,O3",
    oracle="""
SELECT c_custkey, c_name,
       nullif(round(c_acctbal, 2), 0) AS bal
FROM customer
ORDER BY bal DESC NULLS LAST, c_custkey
LIMIT 50
""",
)
def orderby_nulls_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort with NULLS LAST + LIMIT → TakeOrderedAndProject.

    Spark plans ORDER BY+LIMIT as a per-partition top-k with a k-row merge on
    the driver — no global sort shuffle ever materializes, which is the only
    acceptable top-k shape at 100 TB. c_custkey is the unique tiebreak
    (SURVEY.md §5.4); the nullif manufactures NULLs so the NULLS LAST path is
    actually exercised.
    """
    c = load(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            "c_name",
            F.nullif(F.round("c_acctbal", 2), F.lit(0)).alias("bal"),
        )
        .orderBy(F.desc_nulls_last("bal"), F.asc("c_custkey"))
        .limit(50)
    )


# --- J5: anti join ----------------------------------------------------------


@query(
    "customers_without_orders",
    category="J5",
    tags=("bench",),
    oracle="""
SELECT count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactive users via left_anti join (≡ NOT EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- L4/L6: corpus stats ----------------------------------------------------


@query(
    "doc_stats_by_lang",
    category="L4,L6",
    tags=("bench",),
    oracle="""
SELECT lang, count(*) AS docs, round(avg(n_chars), 4) AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def doc_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile over the documents table."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
        .orderBy("lang")
    )


# --- L3/J6: all-pairs cosine top-k ------------------------------------------


@query(
    "embed_knn_allpairs",
    category="L3,J6",
    tags=("bench",),
    oracle="""
WITH p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_transform(a.embedding, x -> CAST(x AS DOUBLE)) AS ea,
         list_transform(b.embedding, x -> CAST(x AS DOUBLE)) AS eb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
), s AS (
  SELECT vec_a, vec_b,
         list_sum(list_transform(range(1, 1 + len(ea)), i -> ea[i] * eb[i])) AS dot,
         sqrt(list_sum(list_transform(ea, x -> x * x))) AS norm_a,
         sqrt(list_sum(list_transform(eb, x -> x * x))) AS norm_b
  FROM p
)
SELECT vec_a, vec_b, round(dot / (norm_a * norm_b), 6) AS sim
FROM s
ORDER BY sim DESC, vec_a, vec_b
LIMIT 10
""",
)
def embed_knn_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force all-pairs cosine top-10 over 64-d embeddings.

    Scale path (operators/similarity.py): broadcast the vector matrix, stream
    the table through Arrow-batched mapInPandas doing a numpy matmul block
    with chunk-local top-k — shuffle carries O(k) rows per task regardless of
    pair count. Final ROUND + (sim, vec ids) ordering in Spark expressions to
    share rounding semantics with the DuckDB oracle.
    """
    from ..operators.similarity import cosine_topk_allpairs

    e = load(spark, sf_dir, "embeddings")
    return cosine_topk_allpairs(e, spark, k=10)
