"""Execution-runtime surface (§2.12 E127-E134): Arrow grouped-map, cached
plan reuse, catalog statistics, global temp views, physical-layout SQL
clauses (DISTRIBUTE/CLUSTER/SORT BY, TABLESAMPLE), date-spine gap fill, and
dynamic partition overwrite.

These are the knobs an operator of a 1000-executor cluster actually turns:
caching a shared dim across jobs, feeding the CBO row/NDV statistics,
controlling shuffle placement and partition-local sort order from SQL, and
idempotently backfilling one partition of a 100 TB table without rewriting
the rest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, local_frame
from ..numeric import cents_sum
from ..registry import query
from ..sources.readers_writers import sink_path


@query(
    "arrow_grouped_minmax_scale",
    category="U4,E127",
    oracle="""
WITH w AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         min(o_totalprice) OVER (PARTITION BY o_orderpriority) AS lo,
         max(o_totalprice) OVER (PARTITION BY o_orderpriority) AS hi
  FROM orders
)
SELECT o_orderkey, o_orderpriority,
       round((o_totalprice - lo) / (hi - lo), 6) AS scaled
FROM w
ORDER BY o_orderkey
""",
)
def arrow_grouped_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` grouped map: the zero-copy sibling of U4's
    applyInPandas. The per-group function receives a ``pyarrow.Table`` and
    computes min-max scaling with pyarrow compute kernels — no pandas
    object boxing, so string/decimal-heavy groups skip the most expensive
    conversion layer of the Python UDF path.

    Scale note: identical shuffle shape to applyInPandas (hash partition by
    key, whole group in one Arrow batch); groups must fit in executor
    memory. The fixture's 5 priority groups are large-ish and few — the
    worst case for group-parallelism and exactly where Arrow's lower
    per-byte overhead matters.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def scale(table: pa.Table) -> pa.Table:
        v = table.column("o_totalprice")
        mm = pc.min_max(v)
        lo, hi = mm["min"], mm["max"]
        # half_towards_infinity == Spark/DuckDB ROUND (half away from zero);
        # pyarrow's default is banker's rounding, which would hash-mismatch.
        scaled = pc.round(
            pc.divide(pc.subtract(v, lo), pc.subtract(hi, lo)),
            ndigits=6,
            round_mode="half_towards_infinity",
        )
        return pa.table(
            {
                "o_orderkey": table.column("o_orderkey"),
                "o_orderpriority": table.column("o_orderpriority"),
                "scaled": scaled,
            }
        )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return (
        o.groupBy("o_orderpriority")
        .applyInArrow(
            scale, "o_orderkey bigint, o_orderpriority string, scaled double"
        )
        .orderBy("o_orderkey")
    )


@query(
    "cached_dim_reuse",
    category="J9,E128",
    oracle="""
WITH dim AS (
  SELECT n_nationkey, n_name, r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT r_name, side, CAST(n AS BIGINT) AS n FROM (
  SELECT dim.r_name, 'customer' AS side, count(*) AS n
  FROM customer JOIN dim ON c_nationkey = n_nationkey GROUP BY dim.r_name
  UNION ALL
  SELECT dim.r_name, 'supplier' AS side, count(*) AS n
  FROM supplier JOIN dim ON s_nationkey = n_nationkey GROUP BY dim.r_name
)
ORDER BY r_name, side
""",
)
def cached_dim_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cache()`` + plan reuse: one conformed dim (nation⋈region) is
    cached and consumed by TWO branches of the same job (customers and
    suppliers per region). Catalyst replaces both scans with
    InMemoryTableScan over the shared columnar cache (plan-asserted in
    tests/test_plans.py), so the dim join runs once per branch against
    memory instead of re-reading + re-joining parquet.

    Scale note: caching is for *reused* inputs only — the cached dim here
    is broadcast-sized. Caching a fact table at 100 TB evicts constantly
    and loses to a straight scan; the discipline is cache-small, recompute-
    big.
    """
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    dim = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
        .cache()
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    cust = (
        c.join(F.broadcast(dim), c.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("r_name", F.lit("customer").alias("side"), "n")
    )
    supp = (
        s.join(F.broadcast(dim), s.s_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("r_name", F.lit("supplier").alias("side"), "n")
    )
    return cust.unionAll(supp).orderBy("r_name", "side")


@query(
    "analyze_table_stats",
    category="A2,E129",
    oracle="""
SELECT stat, val FROM (
  SELECT 'min' AS stat, CAST(min(n_regionkey) AS VARCHAR) AS val FROM nation
  UNION ALL
  SELECT 'max', CAST(max(n_regionkey) AS VARCHAR) FROM nation
  UNION ALL
  SELECT 'num_nulls', CAST(count(*) - count(n_regionkey) AS VARCHAR) FROM nation
  UNION ALL
  SELECT 'distinct_count', CAST(count(DISTINCT n_regionkey) AS VARCHAR) FROM nation
  UNION ALL
  SELECT 'row_count', CAST(count(*) AS VARCHAR) FROM nation
)
ORDER BY stat
""",
)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS``: the CBO's food.
    Registers nation as an external parquet table (explicit LOCATION — the
    in-memory catalog holds only metadata, no warehouse writes), analyzes
    it, and reads the collected column statistics back out of ``DESCRIBE
    EXTENDED`` — min/max/null-count/NDV for n_regionkey plus the table row
    count, which the oracle recomputes exactly from the data.

    NDV is HyperLogLog-derived, exact at 5 distinct values; for the cost-
    based optimizer these five numbers are what turn join reordering and
    broadcast-threshold decisions from guesses into arithmetic at 100 TB
    (a mis-estimated build side is the difference between a broadcast and
    a 100 TB shuffle).
    """
    path = sink_path("analyze_nation", sf_dir)
    load(spark, sf_dir, "nation").write.mode("overwrite").parquet(path)
    spark.sql("DROP TABLE IF EXISTS analyze_nation")
    spark.sql(
        f"CREATE TABLE analyze_nation USING parquet LOCATION '{path}'"
    )
    spark.sql("ANALYZE TABLE analyze_nation COMPUTE STATISTICS")
    spark.sql(
        "ANALYZE TABLE analyze_nation COMPUTE STATISTICS FOR COLUMNS n_regionkey"
    )
    desc = spark.sql("DESCRIBE EXTENDED analyze_nation n_regionkey")
    col_stats = desc.where(
        F.col("info_name").isin("min", "max", "num_nulls", "distinct_count")
    ).select(F.col("info_name").alias("stat"), F.col("info_value").alias("val"))
    row_count = spark.sql("DESCRIBE EXTENDED analyze_nation").where(
        F.col("col_name") == "Statistics"
    ).select(
        F.lit("row_count").alias("stat"),
        F.regexp_extract("data_type", r"(\d+) rows", 1).alias("val"),
    )
    return col_stats.unionAll(row_count).orderBy("stat")


@query(
    "global_temp_view_catalog",
    category="S4,E130",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total,
       TRUE AS visible_in_catalog
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def global_temp_view_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global temp views + catalog API: a view registered in the
    cross-session ``global_temp`` database, resolved by qualified name from
    SQL, with its existence confirmed through ``spark.catalog`` — the
    lightweight sharing mechanism between independent SparkSessions on one
    cluster (notebook ↔ job server), vs session-scoped temp views that die
    with their session.

    The emitted ``visible_in_catalog`` pin proves the catalog round trip,
    not just the data path.
    """
    o = load(spark, sf_dir, "orders")
    o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        cents_sum(F.col("o_totalprice")).alias("total"),
    ).createOrReplaceGlobalTempView("gtv_priority_totals")
    visible = spark.catalog.tableExists("global_temp.gtv_priority_totals")
    return (
        spark.sql(
            "SELECT o_orderpriority, n, total "
            "FROM global_temp.gtv_priority_totals"
        )
        .withColumn("visible_in_catalog", F.lit(bool(visible)))
        .orderBy("o_orderpriority")
    )


@query(
    "distribute_sort_by_layout",
    category="O1,E131",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem
WHERE l_suppkey < 3
ORDER BY l_suppkey, l_orderkey, l_linenumber
""",
)
def distribute_sort_by_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DISTRIBUTE BY … SORT BY``: hash-place rows by supplier, sort only
    WITHIN each partition — the write-layout idiom (one sorted file per
    bucket-ish partition, no global merge). Unlike ORDER BY, SORT BY costs
    no range-exchange + final single-ordering pass; at 100 TB this is how
    you lay out sorted-per-file parquet for min/max-pruning consumers
    without paying a global sort.

    The result SET is order-insensitively hash-compared (the driver sorts
    before hashing), so the partition-local ordering freedom is exactly
    what the contract allows; the plan (RepartitionByExpression + non-global
    Sort, no range exchange) is asserted in tests/test_plans.py.
    """
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_layout")
    return spark.sql(
        """
        SELECT l_suppkey, l_orderkey, l_linenumber,
               round(l_extendedprice, 2) AS price
        FROM li_layout
        WHERE l_suppkey < 3
        DISTRIBUTE BY l_suppkey SORT BY l_suppkey, l_orderkey, l_linenumber
        """
    )


@query(
    "tablesample_certified",
    category="P6,E132",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_total,
       TRUE AS within_5sigma,
       TRUE AS all_rows_from_table
FROM orders
""",
)
def tablesample_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``TABLESAMPLE (10 PERCENT) REPEATABLE(42)``: the declarative
    spelling of seeded Bernoulli sampling, certified-property style (the
    drawn rows are engine-RNG-specific, the sampler's contract is not).
    Emits the exact population size plus two pinned booleans: the sample
    size lies in a 5σ binomial window around 10%, and every sampled row
    semi-joins back to the table (no fabricated rows).

    Scale note: TABLESAMPLE pushes into the scan (sampling before wide
    transforms), so a 10% development sample of a 100 TB table reads ~10%
    of row groups' worth of work, not all of it.
    """
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_ts")
    sample = spark.sql(
        "SELECT o_orderkey FROM orders_ts TABLESAMPLE (10 PERCENT) REPEATABLE (42)"
    )
    n_total = o.count()
    n_sample = sample.count()
    p = 0.10
    sigma = (n_total * p * (1 - p)) ** 0.5
    within = abs(n_sample - n_total * p) <= 5 * sigma
    legit = (
        sample.join(o, "o_orderkey", "left_anti").count() == 0
    )
    return local_frame(
        spark,
        [(n_total, bool(within), bool(legit))],
        "n_total bigint, within_5sigma boolean, all_rows_from_table boolean",
    )


@query(
    "date_spine_gap_fill",
    category="F3,E133",
    oracle="""
WITH spine AS (
  SELECT CAST(d AS DATE) AS d
  FROM generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY) t(d)
), daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS rev,
         count(*) AS n
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
  GROUP BY 1
)
SELECT strftime(spine.d, '%Y-%m-%d') AS day,
       CAST(coalesce(daily.n, 0) AS BIGINT) AS n_orders,
       coalesce(daily.rev, 0.0) AS revenue
FROM spine LEFT JOIN daily ON spine.d = daily.d
ORDER BY day
""",
)
def date_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill: ``sequence()`` + ``explode`` generates a dense
    calendar, LEFT JOIN brings in the sparse daily aggregate, COALESCE
    zero-fills the silent days — the canonical fix for time series that
    skip days (moving averages and charts both break on gaps).

    Scale note: the spine is tiny (days, not rows) and broadcast; the fact
    side aggregates BEFORE the join so the left join sees one row per day,
    not one per order.
    """
    o = load(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    daily = (
        o.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(cents_sum(F.col("o_totalprice")).alias("rev"), F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(F.broadcast(daily), "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce("rev", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("day")
    )


@query(
    "dynamic_partition_overwrite",
    category="S7,E134",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor((CASE WHEN o_orderpriority = '1-URGENT'
                       THEN o_totalprice * 0.9 ELSE o_totalprice END) * 100
                      + 0.5) AS BIGINT)) / 100.0 AS total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: rewrite ONE partition of a partitioned
    table in place, leaving sibling partitions untouched — the idempotent-
    backfill primitive. Static overwrite mode would truncate the whole
    table; ``partitionOverwriteMode=dynamic`` (set per-write, not
    session-wide) deletes only partitions present in the incoming frame.

    Flow: full partitioned write → corrected '1-URGENT' batch (10%
    discount) overwrites just that partition → re-read shows the discount
    ONLY in 1-URGENT rows and bit-identical data elsewhere, which is the
    proof the other four partitions were never rewritten.
    """
    o = load(spark, sf_dir, "orders")
    path = sink_path("dpo_orders", sf_dir)
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    # No per-row rounding: x * 0.9 is the same IEEE-double op in Spark and
    # DuckDB, so the re-read sum matches the oracle bit-for-bit pre-round.
    corrected = o.where(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.9
    )
    corrected.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_orderpriority").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            cents_sum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("o_orderpriority")
    )
