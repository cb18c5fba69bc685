"""Join queries (SURVEY.md §2.3: J2-J4, J6-J8, J10; J1/J5/J9 in core.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, local_frame
from ..numeric import cents_sum
from ..operators.asof import asof_join
from ..registry import query


@query(
    "left_join_order_counts",
    category="J2",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       coalesce(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0) / 100.0
         AS total_spend
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
ORDER BY c.c_custkey
""",
)
def left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with zero orders (count of a right
    column, not count(*), so unmatched rows count as 0)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (
                F.coalesce(
                    F.sum(
                        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                            "bigint"
                        )
                    ),
                    F.lit(0),
                )
                / 100.0
            ).alias(
                "total_spend"
            ),
        )
        .orderBy("c_custkey")
    )


@query(
    "full_outer_activity",
    category="J3",
    oracle="""
WITH a AS (
  SELECT o_custkey, count(*) AS n95 FROM orders
  WHERE year(o_orderdate) = 1995 GROUP BY o_custkey
), b AS (
  SELECT o_custkey, count(*) AS n96 FROM orders
  WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
)
SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
       CAST(coalesce(a.n95, 0) AS BIGINT) AS n95,
       CAST(coalesce(b.n96, 0) AS BIGINT) AS n96
FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
ORDER BY custkey
""",
)
def full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: symmetric diff of per-year activity."""
    o = load(spark, sf_dir, "orders")

    def per_year(year: int, out: str) -> DataFrame:
        return (
            o.where(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias(out))
        )

    a = per_year(1995, "n95").alias("a")
    b = per_year(1996, "n96").alias("b")
    return (
        a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"), "full")
        .select(
            F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("custkey"),
            F.coalesce(F.col("n95"), F.lit(0)).cast("long").alias("n95"),
            F.coalesce(F.col("n96"), F.lit(0)).cast("long").alias("n96"),
        )
        .orderBy("custkey")
    )


@query(
    "semi_join_purchasers",
    category="J4",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM events e
  WHERE e.user_id = c.c_custkey AND e.event_type = 'purchase'
)
""",
)
def semi_join_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (≡ WHERE EXISTS): customers with ≥1 purchase event."""
    c = load(spark, sf_dir, "customer")
    e = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return c.join(
        e, c.c_custkey == e.user_id, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@query(
    "cross_join_region_nation",
    category="J6",
    oracle="""
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
WHERE r.r_regionkey <> n.n_regionkey
""",
)
def cross_join_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product with a non-equi residual predicate
    (BroadcastNestedLoopJoin; both sides are broadcast-sized dims)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .where(F.col("r_regionkey") != F.col("n_regionkey"))
        .select("r_name", "n_name")
    )


@query(
    "range_join_value_bands",
    category="J7,S4",
    oracle="""
WITH bands(band, lo, hi) AS (
  VALUES ('xs', 0.0, 25.0), ('s', 25.0, 75.0), ('m', 75.0, 125.0),
         ('l', 125.0, 175.0), ('xl', 175.0, 1e9)
)
SELECT b.band, count(*) AS n,
       sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
ORDER BY b.band
""",
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (interval) join: fact value routed into an in-memory band dim
    (also exercises the S4 in-memory source, ``io.local_frame``). The band
    table is broadcast, so the non-equi predicate never becomes a shuffled
    NLJ at scale."""
    e = load(spark, sf_dir, "events")
    bands = local_frame(
        spark,
        [
            ("xs", 0.0, 25.0),
            ("s", 25.0, 75.0),
            ("m", 75.0, 125.0),
            ("l", 125.0, 175.0),
            ("xl", 175.0, 1e9),
        ],
        "band string, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(bands),
            (e.value >= bands.lo) & (e.value < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), cents_sum(F.col("value")).alias("total_value"))
        .orderBy("band")
    )


@query(
    "self_join_cohour_pairs",
    category="J10",
    oracle="""
WITH hourly AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d,
         CAST(hour(ts) AS INTEGER) AS h, user_id
  FROM events
)
SELECT a.d, a.h, CAST(count(*) AS BIGINT) AS n_pairs
FROM hourly a JOIN hourly b
  ON a.d = b.d AND a.h = b.h AND a.user_id < b.user_id
GROUP BY a.d, a.h
ORDER BY a.d, a.h
""",
)
def self_join_cohour_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct user pairs co-active in the same hour (the
    follower-graph-ish shape).

    Round 13 (guide §1.2): the count of `a.user < b.user` pairs over the
    distinct users of a bucket is exactly C(n, 2), so the Spark side
    counts users per bucket and applies `n*(n-1) div 2` — the oracle keeps
    the literal self-join, the two engines verifying one spec through
    independent computations (the winnow-oracle precedent). The join form
    materialized 6.34M pair rows at sf0.1 (95k inputs) only to count
    them, and its fan-out is QUADRATIC in bucket occupancy — one hot hour
    with 1M co-active users would expand to 5e11 rows; the closed form is
    one distinct + one count, linear at any scale. Buckets need n >= 2 to
    emit, matching the join form (a pair requires two users); the pair
    count is exact integer math.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.hour("ts").cast("int").alias("h"),
        "user_id",
    ).distinct()
    return (
        hourly.groupBy("d", "h")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select(
            "d",
            "h",
            F.expr("n * (n - 1) div 2").alias("n_pairs"),
        )
        .orderBy("d", "h")
    )


@query(
    "asof_latest_order",
    category="J8",
    oracle="""
WITH right_dedup AS (
  SELECT o_custkey, o_orderdate,
         max(o_totalprice) AS last_order_price
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id,
       strftime(r.o_orderdate, '%Y-%m-%d') AS last_order_date,
       r.last_order_price
FROM events e
ASOF JOIN right_dedup r
  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
""",
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest order at-or-before each event per user
    (operators/asof.py union+window composition; DuckDB native ASOF JOIN is
    the oracle). Right side pre-deduped per (key, ts) for tie determinism."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load(spark, sf_dir, "orders")
    right = o.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_totalprice").alias("last_order_price")
    )
    # Carry the order date as a string payload so no raw timestamp reaches
    # the hashed output.
    right2 = right.select(
        "o_custkey",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_order_date"),
        "last_order_price",
    )
    return asof_join(
        e,
        right2,
        key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["last_order_date", "last_order_price"],
        how="inner",
    ).select("event_id", "user_id", "last_order_date", "last_order_price")


# --- skew-salted join (J1 + §4 skew playbook) --------------------------------


@query(
    "salted_join_user_segment",
    category="J1,J9,E5",
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_events,
       sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def salted_join_user_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events⋈customer with explicit key salting (operators/skew.py).

    events.user_id has ~15 distinct values over the whole fact table — the
    extreme-skew shape where a plain shuffle join lands everything on ≤15
    tasks. The salt (event_id, unique and uniform) fans each hot key over 8
    sub-keys; the customer side replicates 8×. Output is provably identical
    to the plain join (same oracle as the unsalted stream-static variant).
    Broadcast is disabled for this plan so the salted shuffle path is what
    actually executes on the tiny fixture; at 100 TB the right side would be
    too big to broadcast and this rewrite is load-bearing.
    """
    from ..operators.skew import salted_join

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    e = load(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("c_custkey"), "value"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        e, c, key="c_custkey", salt_expr=F.col("event_id"), n_salts=8
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            cents_sum(F.col("value")).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "nullsafe_join_status_labels",
    category="J1,E24",
    oracle="""
WITH o AS (
  SELECT nullif(o_orderstatus, 'P') AS k, o_totalprice FROM orders
), d AS (
  SELECT * FROM (VALUES ('F', 'finished'), ('O', 'open'),
                        (NULL, 'pending-unknown')) AS t(k, label)
)
SELECT d.label, CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total
FROM o JOIN d ON o.k IS NOT DISTINCT FROM d.k
GROUP BY d.label
ORDER BY d.label
""",
)
def nullsafe_join_status_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    NULL keys — the join you need when NULL is a real category (unknown
    status) rather than an absence. Spark plans <=> as an ordinary hash
    equi-join key (nulls hash to one bucket), not a nested loop; fixtures
    carry no NULLs, so the keys are synthesized with nullif on both engines.
    """
    o = load(spark, sf_dir, "orders").select(
        F.expr("nullif(o_orderstatus, 'P')").alias("k"), "o_totalprice"
    )
    d = local_frame(
        spark,
        [("F", "finished"), ("O", "open"), (None, "pending-unknown")],
        "dk string, label string",
    )
    return (
        o.join(d, F.col("k").eqNullSafe(F.col("dk")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            cents_sum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("label")
    )


@query(
    "star_join_profit",
    category="J1,J9,E34",
    oracle="""
SELECT n_name, strftime(o_orderdate, '%Y') AS year,
       CAST(count(*) AS BIGINT) AS n,
       (CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        + 50) // 100 AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey  = p_partkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_type = 'PROMO'
GROUP BY n_name, year
ORDER BY n_name, year
""",
)
def star_join_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join (TPC-H Q9 shape on the reduced schema): PROMO
    revenue by supplier nation and order year.

    The scale shape this query exists to pin: the two facts (lineitem,
    orders) join shuffle-to-shuffle on orderkey; every dimension —
    part (filtered to PROMO *before* the join, pushed to its scan),
    supplier, nation, region — rides along as a broadcast hash join, so
    the fact rows are never re-shuffled for dimension lookups. Catalyst
    orders the joins from the declared plan; tests/test_scale_ops.py
    asserts the broadcast/no-cartesian structure survives.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    # Revenue accumulates in EXACT integer ten-thousandths (price has 2
    # decimals, discount 2 → the product has 4) and emits half-up cents via
    # integer `div` — round(sum(double), 2) depends on partial-agg
    # accumulation order at sf0.1 magnitudes (~3e7 on a double sum flipped
    # the last cent run-to-run; caught by the sf0.1 sweep).
    rev_1e4 = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .withColumn("rev_1e4", rev_1e4)
        .groupBy("n_name", F.date_format("o_orderdate", "yyyy").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST((sum(rev_1e4) + 50) div 100 AS BIGINT)").alias(
                "revenue_cents"
            ),
        )
        .orderBy("n_name", "year")
    )
