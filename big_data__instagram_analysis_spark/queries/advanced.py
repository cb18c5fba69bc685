"""Advanced analytics extensions E83–E96 (SURVEY.md §2.12, round 3).

Operators a log-analytics / training-data platform needs that the base §2
inventory doesn't cover: Pareto frontiers, fixed-point time decay,
mergeable-sketch rollups, graph triangle statistics, certified approximate
quantiles, fixed-bin histograms, grouped OLS regression, edit-distance
dedup, dataset mixture quotas, per-key mode, lateral joins, and the
PySpark-4 Python boundaries (Arrow-optimized UDF, mapInArrow) plus ntile.
Every query follows the §5.4 parity rules (identical aliases both sides,
ROUND on floats, BIGINT casts in DuckDB) and each docstring states the
100 TB plan shape.

No reference citations are possible: /root/reference/ is empty (SURVEY §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..numeric import cents_sum
from ..registry import query


@query(
    "skyline_pareto_brand",
    category="W6,E83",
    oracle="""
SELECT p.p_brand, p.p_partkey, round(p.p_retailprice, 2) AS price, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_brand = p.p_brand
    AND q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p.p_brand, p.p_partkey
""",
)
def skyline_pareto_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier (skyline): parts not dominated on
    (price low, size high) by any same-brand part.

    The oracle states the textbook NOT-EXISTS form (quadratic — fine for
    DuckDB at oracle scale). The Spark plan is the distributable 2-D
    skyline: sort each brand partition by integer-cent price and take two
    RANGE-frame running maxima of size — over strictly-cheaper rows
    (frame ... -1) and over cheaper-or-equal rows (frame ... CURRENT,
    RANGE so price peers share the frame). A row is dominated iff a
    strictly cheaper part has size ≥ its own, or any cheaper-or-equal
    part has size strictly greater. One shuffle on p_brand, O(n log n)
    per partition, no pair join — survives 100 TB where NOT EXISTS is a
    quadratic cross-partition nightmare. Prices are compared in exact
    integer cents (fixtures carry 2-decimal prices), so Spark's equality
    classes match the oracle's raw-double comparisons.
    """
    p = load(spark, sf_dir, "part").withColumn(
        "price_c", F.round(F.col("p_retailprice") * 100).cast("long")
    )
    return (
        mark_pareto_dominated(p, group_col="p_brand", min_col="price_c", max_col="p_size")
        .where(~F.col("dominated"))
        .select(
            "p_brand",
            "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            "p_size",
        )
        .orderBy("p_brand", "p_partkey")
    )


def mark_pareto_dominated(
    df: DataFrame, *, group_col: str, min_col: str, max_col: str
) -> DataFrame:
    """Append a boolean ``dominated`` column: row r is dominated iff some
    same-group row has (min_col ≤, max_col ≥) with one strict.

    Distributable 2-D skyline core (shared by skyline_pareto_brand and the
    differential fuzz in tests/test_properties.py): one sort per group
    partition, two RANGE-frame running maxima — over strictly-smaller
    min_col rows and over smaller-or-equal rows (RANGE, so min_col peers
    share a frame) — no pair join. min_col must be integer-typed (RANGE
    frame offsets are exact only for integers; use cents for money).
    """
    w_lt = (
        Window.partitionBy(group_col)
        .orderBy(min_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_leq = (
        Window.partitionBy(group_col)
        .orderBy(min_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dominated = (F.max(max_col).over(w_lt) >= F.col(max_col)) | (
        F.max(max_col).over(w_leq) > F.col(max_col)
    )
    return df.withColumn("dominated", F.coalesce(dominated, F.lit(False)))


@query(
    "decayed_engagement_fixedpoint",
    category="F3,E84",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)
                * (CAST(1 AS BIGINT) << (30 - (DATE '2024-01-31' - CAST(ts AS DATE)))))
            AS BIGINT) AS decayed_score
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def decayed_engagement_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user, in exact
    integer fixed-point: sum(value_cents << (30 − age_days)) at reference
    day 2024-01-31 — i.e. half-life = 1 day, weights are exact powers of
    two, all math stays in int64.

    Why fixed-point: float exp/pow decay (`exp(-λΔt)`) is libm-dependent
    — last-ulp differences between engines break value hashing, and
    float summation order is nondeterministic on a cluster. Shifted
    integer weights make the score bit-exact everywhere and
    map-side-combinable (it's a plain SUM — partial aggregation works,
    one shuffle of |users| rows). int64 headroom: value_cents ≤ 49,102
    and the max weight is 2^29, so ~3.5e5 max-valued same-day events per
    user fit before overflow — beyond that, drop the scale to 2^20.
    The events loader's µs UTC timestamps make `CAST(ts AS DATE)` agree
    with Spark's `to_date` on every instant.
    """
    e = load(spark, sf_dir, "events")
    age = F.datediff(F.lit("2024-01-31").cast("date"), F.to_date("ts"))
    term = F.round(F.col("value") * 100).cast("long") * F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(30 - datediff(DATE'2024-01-31', to_date(ts)) AS INT))"
    )
    return (
        e.select("user_id", age.alias("age"), term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("term").cast("long").alias("decayed_score"),
        )
        .orderBy("user_id")
    )


@query(
    "hll_sketch_union_rollup",
    category="A4,E85",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS merged_within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def hll_sketch_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(event_type, day) HLL sketches of
    distinct users, OR-merged across days per type, then estimated —
    certified against the exact distinct count.

    This is THE 100 TB distinct-count pattern: daily partitions each
    build a fixed-size (kB) Datasketches HLL partial, and any rollup
    (weekly/monthly/all-time) is a cheap sketch union — no re-scan of
    raw data, no |users|-sized shuffle, mergeable across both partitions
    and time. Raw estimates are sketch-seed/impl-specific, so the
    certified form (approx_count_distinct pattern, aggregates.py) emits
    the EXACT count plus a pinned boolean asserting the merged estimate
    landed within 5% relative error (generous vs the ~1.6% rsd of the
    default lgConfigK=12 sketch; at fixture cardinality the sketch is in
    exact sparse mode). The oracle recomputes the exact count and pins
    the flag TRUE — a flipped flag fails the value hash loudly.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(F.broadcast(merged), "event_type")
        .select(
            "event_type",
            F.col("exact_users").cast("long"),
            (
                F.abs(F.col("est") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("merged_within_5pct"),
        )
        .orderBy("event_type")
    )


@query(
    "triangle_count_copurchase",
    category="J10,E86",
    oracle="""
WITH uh AS (
  SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
  FROM events WHERE event_type = 'purchase'
), e AS (
  SELECT a.u AS ua, b.u AS ub
  FROM uh a JOIN uh b ON a.h = b.h AND a.u < b.u
  GROUP BY a.u, b.u
  HAVING count(*) >= 3
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT ua AS v FROM e UNION ALL SELECT ub FROM e
  ) GROUP BY v
), tri AS (
  SELECT count(*) AS n_tri
  FROM e e1 JOIN e e2 ON e1.ub = e2.ua JOIN e e3
    ON e3.ua = e1.ua AND e3.ub = e2.ub
)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT sum(d * (d - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
       CAST(n_tri AS BIGINT) AS n_triangles,
       round(CASE WHEN (SELECT sum(d * (d - 1) / 2) FROM deg) > 0
                  THEN 3.0 * n_tri / (SELECT sum(d * (d - 1) / 2) FROM deg)
                  ELSE 0 END, 6) AS global_clustering
FROM tri
""",
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the co-purchase
    graph (edge = two users purchasing in ≥3 common hours).

    Graph triangle counting via the ordered-edge join: every edge is
    stored once as (ua < ub), so a triangle a<b<c is found exactly once
    by e1=(a,b) ⋈ e2=(b,c) ⋈ e3=(a,c) — no /6 dedup, and the join
    fan-out is bounded by out-degree under the ordering (the standard
    arboricity-bounded scheme; orienting by degree instead of id is the
    skew refinement at 100 TB). Edge generation is itself key-bucketed:
    users only meet through a shared hour bucket, and the ≥3-common-hours
    threshold keeps the graph sparse (measured: 2,275 edges / 1,500
    users at sf0.1). Wedges come from a |V|-row degree aggregate —
    clustering = 3·triangles/wedges. Single-row output, exact integers.
    """
    e = load(spark, sf_dir, "events")
    uh = (
        e.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("u"), F.date_trunc("hour", "ts").alias("h"))
        .distinct()
    )
    a, b = uh.alias("a"), uh.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.u") < F.col("b.u")))
        .groupBy(F.col("a.u").alias("ua"), F.col("b.u").alias("ub"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= 3)
        .select("ua", "ub")
    )
    edges = edges.localCheckpoint()  # reused 5×: edge gen runs once, not per branch
    deg = (
        edges.select(F.col("ua").alias("v"))
        .unionAll(edges.select(F.col("ub").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.ub") == F.col("e2.ua"))
        .join(
            e3,
            (F.col("e3.ua") == F.col("e1.ua")) & (F.col("e3.ub") == F.col("e2.ub")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            F.col("n_edges").cast("long"),
            F.col("n_wedges").cast("long"),
            F.col("n_triangles").cast("long"),
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(0.0),
                6,
            ).alias("global_clustering"),
        )
    )


@query(
    "approx_median_certified",
    category="A7,E87",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
       TRUE AS approx_within_rank_bound
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def approx_median_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (KLL/GK-style mergeable quantile sketch) per
    priority, certified by rank error against the exact median.

    At 100 TB the exact median needs a full sort or a |distinct-values|
    shuffle; percentile_approx builds fixed-size mergeable summaries
    with the guarantee |rank(answer) − 0.5·n| ≤ n/accuracy. The
    certification evaluates that guarantee in-plan: join the per-group
    approx value back to orders (broadcast — 5 rows), count rows ≤
    approx (its actual rank), and emit a pinned boolean. Checked output
    carries the EXACT interpolated median (both engines do linear
    interpolation; rounded 2) — the sketch value itself is
    impl-specific and stays internal, exactly like the HLL/MinHash
    certifications. Two scans + one broadcast join; both aggs are
    partial-agg friendly.
    """
    o = load(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000)).alias("approx"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact_median"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = (
        o.join(F.broadcast(g), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("approx"), 1).otherwise(0)
            ).alias("rank_of_approx"),
            F.first("n").alias("n"),
            F.first("exact_median").alias("exact_median"),
        )
    )
    return ranked.select(
        "o_orderpriority",
        F.col("n").cast("long"),
        F.round("exact_median", 2).alias("median_price"),
        (
            F.abs(F.col("rank_of_approx") - 0.5 * F.col("n"))
            <= F.col("n") / 1000.0 + 1
        ).alias("approx_within_rank_bound"),
    ).orderBy("o_orderpriority")


@query(
    "histogram_fixed_bins",
    category="A1,E88",
    oracle="""
WITH binned AS (
  SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin
  FROM orders
), tot AS (
  SELECT count(*) AS t FROM binned
)
SELECT bin,
       CAST(bin * 50000 AS BIGINT) AS bin_lo,
       CAST(count(*) AS BIGINT) AS cnt,
       round(count(*) * 100.0 / max(t), 6) AS pct
FROM binned, tot
GROUP BY bin
ORDER BY bin
""",
)
def histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound histogram of order totals: 10 bins of width 50k with a
    clamped top bin.

    Fixed bounds (vs data-driven min/max) make the histogram one-pass
    and mergeable — every partition bins locally and the shuffle carries
    ≤10 rows per partition (map-side partial agg), the way a 100 TB
    profiling pass must work. Equal-depth variants need the quantile
    sketch (see approx_median_certified); equal-width needs nothing but
    a floor-divide. Shares are computed against a broadcast 1-row total,
    not a single-partition window.
    """
    o = load(spark, sf_dir, "orders")
    binned = o.select(
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
        .cast("long")
        .alias("bin")
    )
    tot = binned.agg(F.count(F.lit(1)).alias("t"))
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            (F.col("bin") * 50000).cast("long").alias("bin_lo"),
            F.col("cnt").cast("long"),
            F.round(F.col("cnt") * 100.0 / F.col("t"), 6).alias("pct"),
        )
        .orderBy("bin")
    )


@query(
    "grouped_ols_regression",
    category="A8,E89",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def grouped_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (price ~ quantity) with the
    SQL-standard REGR_* aggregates.

    Grouped OLS is the profiling/feature-engineering workhorse
    (elasticities, trend slopes per segment). The REGR_* family reduces
    to five streaming sums (n, Σx, Σy, Σxy, Σx²) — map-side combinable,
    one shuffle of |groups| rows, no second pass — which is why it
    scales where a per-group collect-and-fit UDF would not. Both engines
    implement the same closed forms; output is rounded (slope/intercept
    4, r2 6) to absorb last-ulp float-sum ordering differences.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 4
            ).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "editdist1_name_pairs",
    category="L2,E90",
    oracle="""
WITH names AS (
  SELECT p_name AS name, count(*) AS n_parts
  FROM part GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(a.n_parts AS BIGINT) AS n_parts_a,
       CAST(b.n_parts AS BIGINT) AS n_parts_b
FROM names a JOIN names b
  ON a.name < b.name AND levenshtein(a.name, b.name) = 1
ORDER BY name_a, name_b
""",
)
def editdist1_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-dup pairs (Levenshtein = 1) over the DISTINCT name
    universe via deletion-neighborhood candidate generation — the
    sub-quadratic form of fuzzy string dedup.

    Two scale decisions here. (1) Fuzzy-pair DISTINCT VALUES, never raw
    rows: pairing rows directly multiplies every name pair by the
    product of its duplicate counts (measured: 38k pairs at sf0.01 →
    3.9M at sf0.1, pure multiplicity blowup) — exact duplicates belong
    to L1's hash dedup; the fuzzy layer's output should be bounded by
    the value universe. Each name carries its multiplicity for the
    join-back. (2) Candidates via the deletion-neighborhood property:
    strings within edit distance 1 share a member of {s} ∪ {s minus one
    char}, so exploding ≤|s|+1 variants and equi-joining on the variant
    replaces O(n²) levenshtein calls with per-bucket joins + one exact
    confirm per candidate. The oracle is the quadratic scan over
    distinct names — tractable there, impossible at 100 TB.
    """
    p = load(spark, sf_dir, "part")
    names = p.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    variants = F.array_union(
        F.array(F.col("name")),
        F.transform(
            F.sequence(F.lit(1), F.length("name")),
            lambda i: F.concat(
                F.substring(F.col("name"), F.lit(1), i - 1),
                F.col("name").substr(i + 1, F.length("name")),
            ),
        ),
    )
    ex = names.select("name", "n_parts", F.explode(variants).alias("v"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v")) & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .distinct()
    )
    return (
        cand.where(F.levenshtein("name_a", "name_b") == 1)
        .select(
            "name_a",
            "name_b",
            F.col("n_parts_a").cast("long"),
            F.col("n_parts_b").cast("long"),
        )
        .orderBy("name_a", "name_b")
    )


@query(
    "dataset_mixture_quota",
    category="P6,E91",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
FROM ranked
WHERE rn <= CASE lang WHEN 'en' THEN 100 ELSE 40 END
ORDER BY lang, rn
""",
)
def dataset_mixture_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset mixing: cap each language at a target quota
    (en 100, others 40), selecting by a content-independent md5 order.

    The LLM-pretraining mixture step: rebalance an en-heavy corpus to
    target proportions WITHOUT an RNG (engine RNGs don't replay across
    engines or runs — md5-of-id gives a stable, uniform, seedless
    shuffle both engines compute identically). Plan: one shuffle on
    lang, per-partition rank, quota filter. The per-lang quota is a
    data-dependent rank bound, which Spark's WindowGroupLimit rule
    cannot push — so the filter is split: a LITERAL bound at the max
    quota (rn ≤ 100, pushable — only 100+ε rows per lang survive the
    sort buffer) plus the residual per-lang predicate on the survivors.
    At 100 TB the same query runs per (lang, shard) with per-shard
    quotas to avoid one giant lang partition: same plan, one more key.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    quota = F.when(F.col("lang") == "en", 100).otherwise(40)
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .where((F.col("rn") <= 100) & (F.col("rn") <= quota))
        .select("doc_id", "lang", F.col("rn").cast("long"))
        .orderBy("lang", "rn")
    )


@query(
    "modal_event_type_per_user",
    category="A6,E92",
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
), ranked AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (
           PARTITION BY user_id ORDER BY cnt DESC, event_type
         ) AS rn
  FROM counts
)
SELECT user_id, event_type AS modal_type, CAST(cnt AS BIGINT) AS n_modal
FROM ranked WHERE rn = 1
ORDER BY user_id
""",
)
def modal_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per key: each user's most frequent event type,
    ties broken alphabetically for determinism.

    Mode is not algebraic (no bounded partial state for arbitrary
    domains), but for a SMALL per-key domain (5 event types) the exact
    two-phase form scales: count per (user, type) — partial-agg
    combinable — then a top-1 window over ≤5 rows per user, which Spark
    executes with WindowGroupLimit pushdown. The deterministic tiebreak
    is what makes the result hash-checkable; a bare max_by would return
    an arbitrary tied winner per engine.
    """
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.select(
            "user_id", "event_type", "cnt", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("cnt").cast("long").alias("n_modal"),
        )
        .orderBy("user_id")
    )


@query(
    "lateral_top3_orders",
    category="J6,E93",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price, t.rnk
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) t
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, t.rnk
""",
)
def lateral_top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: each BUILDING customer's top-3 orders by
    price — the per-row-subquery API (PySpark 4 DataFrame.lateralJoin).

    Lateral joins are the declarative form of "for each outer row, run
    this parameterized query". Catalyst DECORRELATES the subquery: the
    plan rewrites to a join + per-key window rank (visible in explain —
    no per-row re-execution), so it scales exactly like the equivalent
    window top-k (W2) while keeping the per-row formulation users write.
    The segment filter is pushed to the outer scan; tiebreaks are pinned
    (price desc, orderkey) for hash determinism.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_lat_orders")
    c.where(F.col("c_mktsegment") == "BUILDING").createOrReplaceTempView(
        "_lat_cust"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price, t.rnk
        FROM _lat_cust c, LATERAL (
          SELECT o_orderkey, o_totalprice,
                 row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM _lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 3
        ) t
        ORDER BY c.c_custkey, t.rnk
        """
    )


@query(
    "arrow_udf_fee_tier",
    category="U1,E94",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 300000 THEN 'high'
            WHEN o_totalprice >= 100000 THEN 'mid'
            ELSE 'low' END AS fee_tier,
       round(o_totalprice * CASE WHEN o_totalprice >= 300000 THEN 0.01
                                 WHEN o_totalprice >= 100000 THEN 0.02
                                 ELSE 0.03 END, 4) AS fee
FROM orders
ORDER BY o_orderkey
""",
)
def arrow_udf_fee_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (useArrow=True): tiered fee
    calculation — same logic the oracle states as a CASE expression.

    The declared point is the API surface: `udf(..., useArrow=True)`
    replaces pickled Row-at-a-time serialization with Arrow batch
    transfer — same row-wise Python semantics, a large constant-factor
    win, no pandas dependency in the UDF body (contrast U2's pandas
    UDF, which is vectorized end-to-end). Still Python-side: for a pure
    arithmetic CASE like this the built-in expression (the oracle's
    form) is the production answer; this query exists to declare and
    test the Arrow UDF path.
    """
    from pyspark.sql.types import DoubleType

    @F.udf(returnType=DoubleType(), useArrow=True)
    def fee(total: float) -> float:
        # No rounding inside the UDF, and ROUND to 4 (not 2) outside: the
        # true products of 2-decimal totals and cent rates carry exactly
        # ≤4 decimals, so a 4-decimal round never sits on a half-way
        # boundary — while round-to-2 regularly lands on exact half-cents,
        # where Python (half-even), Spark (BigDecimal half-up) and DuckDB
        # (x*100 nearbyint) each break ties differently.
        rate = 0.01 if total >= 300000 else (0.02 if total >= 100000 else 0.03)
        return total * rate

    o = load(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
    )
    return (
        o.select(
            "o_orderkey",
            tier.alias("fee_tier"),
            F.round(fee(F.col("o_totalprice")), 4).alias("fee"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "mapinarrow_value_flags",
    category="U2,E95",
    oracle="""
SELECT event_id,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       (value >= 250) AS is_high
FROM events
ORDER BY event_id
""",
)
def mapinarrow_value_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: per-RecordBatch transform at the lowest-overhead
    Python boundary — no pandas materialization, zero-copy Arrow in and
    out (pyarrow.compute kernels).

    Where mapInPandas pays the Arrow→pandas→Arrow conversion per batch,
    mapInArrow hands the raw RecordBatch to Python — the right extension
    point for columnar libraries (pyarrow.compute, numpy via
    zero-copy buffers, polars). The computation (integer cents + a
    threshold flag) is chosen to be bit-exact vs SQL so the boundary
    itself is what's being verified.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def flags(batches):
        for batch in batches:
            value = batch.column("value")
            cents = pc.cast(pc.round(pc.multiply(value, 100.0)), pa.int64())
            high = pc.greater_equal(value, 250.0)
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_id"), cents, high],
                ["event_id", "value_cents", "is_high"],
            )

    e = load(spark, sf_dir, "events")
    return (
        e.select("event_id", "value")
        .mapInArrow(flags, "event_id long, value_cents long, is_high boolean")
        .orderBy("event_id")
    )


@query(
    "ntile_spend_quartiles",
    category="W1,E96",
    oracle="""
WITH spend AS (
  SELECT o_custkey, sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) / 100.0 AS total_spend
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT o_custkey, total_spend,
         ntile(4) OVER (ORDER BY total_spend DESC, o_custkey) AS quartile
  FROM spend
)
SELECT quartile,
       CAST(count(*) AS BIGINT) AS n_custs,
       sum(CAST(floor((total_spend) * 100 + 0.5) AS BIGINT)) / 100.0 AS quartile_spend
FROM tiled
GROUP BY quartile
ORDER BY quartile
""",
)
def ntile_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend quartiles via ntile(4) + per-quartile rollup (the
    "what share of revenue does the top quartile drive" report).

    ntile assigns bucket = floor(rank·k/n) boundaries deterministically
    given a TOTAL order — the pinned (spend desc, custkey) tiebreak is
    what makes the result portable; ntile over a partial order is
    engine-defined at ties. The ranking window is global by design
    (quartiles of the whole customer base): at 100 TB this becomes a
    two-pass rank — distributed sort for rank, broadcast n — or,
    pragmatically, the quantile-sketch cut points (E87) which avoid the
    global sort entirely; the fixture-scale plan keeps the exact window
    since |customers| after the pre-agg is the small side.
    """
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        cents_sum(F.col("o_totalprice")).alias("total_spend")
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return (
        spend.select(
            "o_custkey", "total_spend", F.ntile(4).over(w).alias("quartile")
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_custs"),
            cents_sum(F.col("total_spend")).alias("quartile_spend"),
        )
        .orderBy("quartile")
    )


@query(
    "sql_udf_tiered_discount",
    category="U1,E97",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor((l_extendedprice * (1 - least(l_discount * 2, 0.1))) * 100 + 0.5) AS BIGINT)) / 100.0
         AS discounted_revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sql_udf_tiered_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDF (Spark 4 CREATE FUNCTION ... RETURN expr): a
    doubled-but-capped discount policy applied in aggregate.

    Unlike Python UDFs, a SQL UDF is INLINED by Catalyst at analysis
    time — the body participates in constant folding, codegen, and
    pushdown exactly like a hand-written expression, so it costs nothing
    at any scale while giving users a named, reusable abstraction. The
    oracle states the inlined form; matching hashes prove the inlining
    is semantics-preserving.
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION tiered_discount(d DOUBLE)
        RETURNS DOUBLE
        RETURN least(d * 2, 0.1)
        """
    )
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_sqludf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(floor((l_extendedprice * (1 - tiered_discount(l_discount))) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE)
                 AS discounted_revenue
        FROM _sqludf_lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@query(
    "bilateral_trade_volume",
    category="J1,E98",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(count(*) AS BIGINT) AS n_lines,
       sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) / 100.0 AS volume
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name < cn.n_name
GROUP BY sn.n_name, cn.n_name
ORDER BY volume DESC, supp_nation, cust_nation
LIMIT 20
""",
)
def bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-style bilateral volume: revenue flowing between ordered
    (supplier-nation, customer-nation) pairs — the deepest join tree in
    the suite (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ nation).

    The plan property that matters: Catalyst must broadcast BOTH nation
    aliases and supplier (BROADCAST_DIMS-sized), keep customer on the
    build side of its join, and leave lineitem⋈orders as the only
    fact-fact shuffle — i.e. one big-table exchange for a six-table
    query. The asymmetric pair filter (sn < cn) halves the pair space
    deterministically instead of double-counting A→B/B→A. Top-20 with a
    full tiebreak (volume desc, names) for stable LIMIT semantics.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("volume"),
        )
        .orderBy(F.desc("volume"), "supp_nation", "cust_nation")
        .limit(20)
    )


@query(
    "not_in_null_semantics",
    category="J5,E99",
    oracle="""
WITH nullable_keys AS (
  SELECT CASE WHEN s_acctbal >= 0 THEN s_nationkey END AS k
  FROM supplier
  UNION ALL
  SELECT NULL
)
SELECT
  CAST((SELECT count(*) FROM customer
        WHERE c_nationkey NOT IN (SELECT k FROM nullable_keys)) AS BIGINT)
    AS n_not_in,
  CAST((SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nullable_keys nk
                          WHERE nk.k = c.c_nationkey)) AS BIGINT)
    AS n_not_exists,
  CAST((SELECT count(*) FROM nullable_keys WHERE k IS NULL) AS BIGINT)
    AS n_null_keys
""",
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN / NULL three-valued-logic trap, demonstrated and
    hash-verified across both engines.

    `x NOT IN (set containing NULL)` is never TRUE under SQL 3VL (the
    x <> NULL comparison is UNKNOWN), so the moment one supplier row
    yields a NULL key the NOT IN count collapses to 0 — while the
    NOT EXISTS form (null-safe by construction) counts what users
    actually mean. Both engines must agree on all three numbers; a
    literal NULL is unioned into the subquery so the trap condition
    (≥1 NULL) holds at every scale factor (at sf0.001 no supplier has
    a negative balance), making n_not_in = 0 the semantics, never an
    empty-data accident. Planner note: Spark executes NOT IN as a
    null-aware anti join (the reason plain anti joins can't implement
    NOT IN) and NOT EXISTS as a regular left-anti — the second is the
    scalable form at 100 TB.
    """
    for name, df in (
        ("_nin_supplier", load(spark, sf_dir, "supplier")),
        ("_nin_customer", load(spark, sf_dir, "customer")),
    ):
        df.createOrReplaceTempView(name)
    return spark.sql(
        """
        WITH nullable_keys AS (
          SELECT CASE WHEN s_acctbal >= 0 THEN s_nationkey END AS k
          FROM _nin_supplier
          UNION ALL
          SELECT NULL
        )
        SELECT
          CAST((SELECT count(*) FROM _nin_customer
                WHERE c_nationkey NOT IN (SELECT k FROM nullable_keys)) AS BIGINT)
            AS n_not_in,
          CAST((SELECT count(*) FROM _nin_customer c
                WHERE NOT EXISTS (SELECT 1 FROM nullable_keys nk
                                  WHERE nk.k = c.c_nationkey)) AS BIGINT)
            AS n_not_exists,
          CAST((SELECT count(*) FROM nullable_keys WHERE k IS NULL) AS BIGINT)
            AS n_null_keys
        """
    )


@query(
    "cogrouped_spend_vs_balance",
    category="U4,E100",
    oracle="""
SELECT c.c_custkey,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       coalesce(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0) / 100.0
         AS total_spend,
       round(any_value(c.c_acctbal), 2) AS acctbal,
       (coalesce(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0) / 100.0
        > any_value(c.c_acctbal) * 10) AS overspent
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
ORDER BY c.c_custkey
""",
)
def cogrouped_spend_vs_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (groupBy().cogroup(...)): per-customer merge
    of each customer's row with ALL their orders.

    cogroup is the two-sided grouped-map — both inputs shuffle once on
    the key and arrive as aligned pandas frames per group, the extension
    point for per-entity reconciliation logic too procedural for a join
    + agg (sessional merges, per-account ledger replay). Here the body
    is deliberately join-expressible so DuckDB can state the oracle.

    The cogroup KEY is a coarse BUCKET (c_custkey % 64), not the raw
    customer key: grouped-map/cogroup pays per-group Arrow+pandas setup,
    so 15k single-customer groups measured 42 s at sf0.1 while 64 bucket
    groups doing the identical per-customer merge VECTORIZED inside
    pandas (groupby within the bucket frame) run in ~1.5 s — the same
    few-large-groups rule grouped_map_zscore documents, applied to
    cogroup. Both sides bucket identically, so every customer's orders
    land in that customer's bucket frame; order-side-only keys (no such
    customer) drop out of the left-merge, the LEFT JOIN twin. Spend is
    quantized to integer cents before summing (PERF.md SS35 — a float
    sum inherits the frame's arrival order).
    """
    import numpy as np
    import pandas as pd

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", (F.col("c_custkey") % 64).alias("bucket")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", (F.col("o_custkey") % 64).alias("bucket")
    )

    def merge(cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
        if cust.empty:  # order-side-only bucket: no customers — emit nothing
            return pd.DataFrame(
                columns=["c_custkey", "n_orders", "total_spend", "acctbal"]
            )
        if orders.empty:
            agg = pd.DataFrame({"n_orders": [], "spend_c": []})
            agg.index.name = "o_custkey"
        else:
            od = orders.assign(
                spend_c=np.floor(orders["o_totalprice"].to_numpy() * 100 + 0.5).astype(
                    np.int64
                )
            )
            agg = od.groupby("o_custkey").agg(
                n_orders=("o_orderkey", "size"), spend_c=("spend_c", "sum")
            )
        out = cust.merge(
            agg, how="left", left_on="c_custkey", right_index=True
        )
        return pd.DataFrame(
            {
                "c_custkey": out["c_custkey"].astype(np.int64),
                "n_orders": out["n_orders"].fillna(0).astype(np.int64),
                "total_spend": out["spend_c"].fillna(0).astype(np.int64) / 100.0,
                "acctbal": out["c_acctbal"].astype(np.float64),
            }
        )

    merged = (
        c.groupBy("bucket")
        .cogroup(o.groupBy("bucket"))
        .applyInPandas(
            merge,
            "c_custkey long, n_orders long, total_spend double, acctbal double",
        )
    )
    return merged.select(
        "c_custkey",
        "n_orders",
        F.col("total_spend"),
        F.round("acctbal", 2).alias("acctbal"),
        (F.col("total_spend") > F.col("acctbal") * 10).alias("overspent"),
    ).orderBy("c_custkey")


@query(
    "collated_group_counts",
    category="F1,E102",
    oracle="""
SELECT lower(o_orderpriority) AS priority_ci,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY lower(o_orderpriority)
ORDER BY priority_ci
""",
)
def collated_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 string collation
    (UTF8_LCASE) — semantically pinned to the lower() oracle twin.

    Collation moves comparison semantics into the TYPE instead of
    wrapping every expression in lower(): the grouping, joins, and
    ORDER BY all follow the column's collation with no per-call
    ceremony, and Catalyst can still hash-partition on the collation
    key. The oracle states the equivalent lower()-normalized form —
    hash equality proves the collated GROUP BY produces exactly the
    case-folded equivalence classes. (Output is re-normalized with
    lower() for display since the collated group's representative
    member is otherwise arbitrary.)
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            F.collate(F.col("o_orderpriority"), "UTF8_LCASE").alias("pr")
        )
        .groupBy("pr")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lower(F.col("pr")).cast("string").alias("priority_ci"),
            F.col("n").cast("long"),
        )
        .orderBy("priority_ci")
    )


@query(
    "xml_roundtrip_extract",
    category="F9,E103",
    oracle="""
SELECT event_id, event_type AS t, round(value, 2) AS v
FROM events
ORDER BY event_id
LIMIT 1000
""",
)
def xml_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip: serialize event fields into an XML string, parse it
    back with Spark 4's native from_xml, emit the parsed fields.

    Covers the XML ingestion surface (from_xml with an explicit schema —
    the schema_of_xml inference path is a driver-side sampling job,
    avoided for the same reason as undeclared pivots). The oracle reads
    the fields directly — hash equality proves serialize→parse is
    lossless through the struct. Escaping note: event_type values are
    alphanumeric so no XML entity handling is exercised; payloads with
    markup need the entity-escape the writer applies. LIMIT with the
    unique event_id order keeps the checked output bounded.
    """
    e = load(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><t>"),
        F.col("event_type"),
        F.lit("</t><v>"),
        F.round(F.col("value"), 2).cast("string"),
        F.lit("</v></e>"),
    )
    parsed = e.select(
        "event_id", F.from_xml(xml, "t STRING, v DOUBLE").alias("p")
    )
    return (
        parsed.select(
            "event_id",
            F.col("p.t").alias("t"),
            F.round(F.col("p.v"), 2).alias("v"),
        )
        .orderBy("event_id")
        .limit(1000)
    )


@query(
    "pandas_api_segment_stats",
    category="U3,E104",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) / 100.0 AS total_bal,
       round(avg(c_acctbal), 4) AS avg_bal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def pandas_api_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-on-Spark API surface (pyspark.pandas): a groupby/agg written
    in pandas idiom that EXECUTES as distributed Spark plans.

    The point is the API layer: `to_pandas_on_spark()` wraps the
    DataFrame in the pandas dialect (for teams porting pandas pipelines)
    while every operation still compiles to Catalyst — no data leaves
    the cluster, unlike a real `.toPandas()`. The distributed-sequence
    default index is avoided (groupby keys become the index; reset and
    sort explicitly) because index generation adds a zipWithIndex-style
    extra job. Result returns to the classic API via `to_spark()` for
    the §5.4-rounded, ordered emit.
    """
    # bal_c: per-row integer cents BEFORE the ps groupby, so the sum is an
    # exact bigint (accumulation-order-proof; PERF.md SS35).
    c = load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_acctbal",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint").alias("bal_c"),
    )
    psdf = c.pandas_api()
    g = psdf.groupby("c_mktsegment").agg(
        {"bal_c": ["count", "sum"], "c_acctbal": ["mean"]}
    )
    g.columns = ["n", "bal_c_sum", "avg_bal"]  # flatten the MultiIndex
    out = g.reset_index().to_spark()
    return (
        out.select(
            "c_mktsegment",
            F.col("n").cast("long").alias("n"),
            (F.col("bal_c_sum") / 100.0).alias("total_bal"),
            F.round("avg_bal", 4).alias("avg_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "map_hof_user_profile",
    category="F8,E105",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, count(*) AS n, sum(value) AS v
  FROM events GROUP BY user_id, event_type
), t AS (
  SELECT user_id, sum(n) AS tot FROM c GROUP BY user_id
)
SELECT c.user_id, c.event_type,
       CAST(c.n AS BIGINT) AS n,
       floor(round(c.v, 4) / c.n * 10000) / 10000 AS avg_value,
       floor(c.n * 10000.0 / t.tot) / 10000 AS pct
FROM c JOIN t USING (user_id)
WHERE c.n >= 3
ORDER BY user_id, event_type
""",
)
def map_hof_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (map_from_entries, map_zip_with,
    transform_values, map_filter): build each user's event-type→count and
    event-type→value maps, zip them into per-type averages, derive
    per-type shares against the user's total, and drop rare types — all
    inside codegen'd map expressions, no second shuffle. (Ratios emit as
    floor-truncated 4-decimals over the pre-rounded sum: rounding the sum
    first makes the dividend the identical double on both engines, and
    floor has no half-way boundary — Spark's round() rounds the double's
    shortest decimal representation while DuckDB rounds the true binary
    value, so round() on an exact .xxxx5 quotient diverges; a measured
    §5.4 addendum.)

    The map is the right carrier when per-entity profiles feed a UDF or
    sink as ONE row per user (feature stores, model inputs): the
    alternative — keeping (user, type) rows and re-grouping downstream —
    shuffles once per consumer. Here the profile pipeline (combine,
    normalize, prune) runs entirely between two stages. Exploded back to
    rows + sorted only for the §5.4 hash-stable emit.
    """
    e = load(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("cnt_map"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "v"))
        ).alias("val_map"),
    )
    combined = maps.select(
        "user_id",
        F.aggregate(
            F.map_values("cnt_map"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("tot"),
        F.map_zip_with(
            "cnt_map",
            "val_map",
            lambda k, n, v: F.struct(
                n.alias("n"),
                (F.floor(F.round(v, 4) / n * 10000) / 10000).alias(
                    "avg_value"
                ),
            ),
        ).alias("profile"),
    )
    pruned = combined.select(
        "user_id",
        "tot",
        F.map_filter("profile", lambda k, s: s["n"] >= 3).alias("profile"),
    )
    return (
        pruned.select(
            "user_id", "tot", F.explode("profile").alias("event_type", "s")
        )
        .select(
            "user_id",
            "event_type",
            F.col("s.n").alias("n"),
            F.col("s.avg_value").alias("avg_value"),
            (F.floor(F.col("s.n") * 10000 / F.col("tot")) / 10000).alias(
                "pct"
            ),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "listagg_supplier_roster",
    category="A9,E106",
    oracle="""
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       string_agg(s_name, ',' ORDER BY s_name) AS roster
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
)
def listagg_supplier_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (Spark 4.0's ordered string aggregation):
    per-nation comma-joined supplier roster in deterministic name order.

    Versus collect_list+array_join+array_sort (the A9 workaround for the
    same shape), WITHIN GROUP makes the order part of the AGGREGATE's
    contract — the sort happens inside the aggregation buffer, not as a
    separate array pass, and the SQL is portable (ISO/IEC 9075:2016).
    Deterministic ordering is what makes the string hash-comparable at
    all; an unordered listagg is a nondeterminism footgun at any scale.
    """
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v")
    return spark.sql(
        """
        SELECT s_nationkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name) AS roster
        FROM supplier_v
        GROUP BY s_nationkey
        ORDER BY s_nationkey
        """
    )


@query(
    "bitmap_builtin_daily_uniques",
    category="A3,E107",
    oracle="""
SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day_b,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uniques
FROM events
GROUP BY day_b
ORDER BY day_b
""",
)
def bitmap_builtin_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's built-in bitmap aggregates (bitmap_bucket_number /
    bitmap_bit_position / bitmap_construct_agg / bitmap_count): exact
    daily uniques where the shuffle carries 4 KB bitmap buckets instead
    of raw ids — the engine-native version of E31's hand-rolled
    bigint-word bitmaps.

    Two-level shape: ids fold into per-(day, bucket) bitmaps map-side
    (bucket = id/32768, position = id%32768), the shuffle moves only
    distinct (day, bucket) binaries, and bitmap_count sums survivors per
    day. Shuffle volume is bounded by domain/32768 buckets per day
    regardless of event volume — and unlike count(DISTINCT), the bitmap
    partials also compose upward into week/month rollups via
    bitmap_or_agg without rescanning the base.
    """
    e = load(spark, sf_dir, "events")
    buckets = (
        e.select(
            (F.col("ts_ns") / F.lit(86_400_000_000_000)).cast("bigint").alias(
                "day_b"
            ),
            F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("day_b", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return (
        buckets.groupBy("day_b")
        .agg(F.sum(F.bitmap_count("bm")).cast("bigint").alias("uniques"))
        .orderBy("day_b")
    )


@query(
    "transpose_pricing_matrix",
    category="P1,E108",
    oracle="""
WITH a AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS sum_qty,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_price,
         CAST(count(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT m.metric,
       max(CASE WHEN l_returnflag = 'A' THEN val END) AS "A",
       max(CASE WHEN l_returnflag = 'N' THEN val END) AS "N",
       max(CASE WHEN l_returnflag = 'R' THEN val END) AS "R"
FROM a, LATERAL (VALUES ('sum_qty', sum_qty), ('sum_price', sum_price),
                        ('n_rows', n_rows)) m(metric, val)
GROUP BY m.metric
ORDER BY m.metric
""",
)
def transpose_pricing_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0): flip a per-returnflag metrics
    table so metrics become rows and flag values become columns — the
    report-matrix shape pivot tables feed to humans.

    transpose() uses the first column's values as the new header (sorted,
    which keeps the output schema deterministic — a transpose whose
    column order depended on row order would be a hash footgun) and
    requires the remaining columns to share one least-common type, hence
    the count cast to DOUBLE up front. This is a driver-coordinated op on
    an already-aggregated k-row frame — the 100 TB discipline is
    aggregate FIRST, transpose the k×m result, never the base table.
    """
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        cents_sum(F.col("l_extendedprice")).alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    wide = agg.select(
        "l_returnflag", "sum_qty", "sum_price", "n_rows"
    ).transpose()
    first = wide.columns[0]
    return wide.withColumnRenamed(first, "metric").orderBy("metric")


@query(
    "observe_metrics_certified",
    category="A2,E109",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 2) AS total_qty,
       TRUE AS observed_matches
FROM lineitem
""",
)
def observe_metrics_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation API (df.observe + CollectMetrics): piggyback dataset
    metrics on an EXISTING action instead of paying a second scan.

    At 100 TB this is the only affordable way to get row counts /
    checksums / null tallies out of a pipeline run: the metrics
    accumulate inside the already-running stages (an accumulator under
    the hood) and surface on the driver when the action finishes — a
    separate .agg() would re-read the table. The certified check: the
    observed metrics must equal the same aggregates computed the
    expensive way; the oracle pins the equality boolean TRUE next to the
    exact values.
    """
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem")
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    direct = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )
    row = direct.collect()[0]
    ok = m["n_rows"] == row["n_rows"] and abs(
        m["total_qty"] - row["total_qty"]
    ) < 1e-9
    return direct.select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "total_qty",
        F.lit(bool(ok)).alias("observed_matches"),
    )


@query(
    "interval_arithmetic_span",
    category="F3,E110",
    oracle="""
SELECT user_id,
       CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 3600000000) AS BIGINT)
         AS full_hours,
       strftime(max(ts) + INTERVAL 2 HOUR + INTERVAL 30 MINUTE,
                '%Y-%m-%d %H:%M:%S') AS followup_at
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def interval_arithmetic_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic surface (timestamp_diff + make_interval): each
    user's activity span in COMPLETE hours and a follow-up timestamp 2 h
    30 m after their last event.

    timestamp_diff('HOUR', a, b) counts complete elapsed hours
    (truncation toward zero — NOT hour-boundary crossings, which is what
    DuckDB's date_diff counts; the oracle uses the epoch floor to pin the
    complete-hours semantics explicitly). make_interval builds a proper
    year-to-second interval from numeric columns — the composable form
    when the offset itself is data, where a string literal interval can't
    vary per row. Formatted to second precision for the ns-vs-µs-safe
    emit (§5.4).
    """
    e = load(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    return (
        spans.select(
            "user_id",
            F.timestamp_diff("HOUR", F.col("first_ts"), F.col("last_ts"))
            .cast("bigint")
            .alias("full_hours"),
            F.date_format(
                F.col("last_ts")
                + F.make_interval(
                    F.lit(0), F.lit(0), F.lit(0), F.lit(0), F.lit(2), F.lit(30)
                ),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("followup_at"),
        )
        .orderBy("user_id")
    )


@query(
    "session_dynamic_gap",
    category="X3,E111",
    oracle="""
WITH e AS (
  SELECT user_id, ts, epoch_us(ts) AS us,
         CASE WHEN event_type = 'purchase' THEN 3600000000
              ELSE 1800000000 END AS gap_us
  FROM events
), o AS (
  SELECT *, max(us + gap_us) OVER (
      PARTITION BY user_id ORDER BY us
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM e
), b AS (
  SELECT *, CASE WHEN prev_end IS NULL OR us > prev_end THEN 1 ELSE 0 END
              AS brk
  FROM o
), s AS (
  SELECT *, sum(brk) OVER (
      PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor((max(us + gap_us) - min(us)) / 1000000.0) AS BIGINT) AS span_s
FROM s
GROUP BY user_id, sid
ORDER BY user_id, sess_start
""",
)
def session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window with a DYNAMIC, per-event gap (Spark's
    session_window(ts, gap_expression)): purchases hold a session open
    for 1 hour, everything else 30 minutes.

    Static-gap sessionization (X3) treats all activity alike; real
    engagement models keep high-intent events "sticky". The gap column
    makes the window spec data-dependent — each event contributes
    [ts, ts+gap) and overlapping windows merge, so the session end is
    the running max of event ends, not last-event+constant. Boundary
    semantics: Spark merges on TOUCH — an event starting exactly at the
    previous running end extends the session (fuzz-verified in
    tests/test_session_hypothesis.py), so the break condition is strictly
    ``us > prev_end``. The oracle
    twin is that exact definition in SQL: a cumulative-max break detector
    (new session only when an event starts strictly after every previous
    end) plus
    a cumulative-sum session id — the W3+W5 composition, proving the
    declarative operator against first principles. Span floors to whole
    seconds for the §5.4-stable emit.
    """
    e = load(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("1 hour")
    ).otherwise(F.lit("30 minutes"))
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "sess_start"
            ),
            "n_events",
            F.floor(
                (
                    F.unix_micros(F.col("w.end"))
                    - F.unix_micros(F.col("w.start"))
                )
                / 1000000.0
            )
            .cast("bigint")
            .alias("span_s"),
        )
        .orderBy("user_id", "sess_start")
    )


@query(
    "join_hints_strategies",
    category="J1,E112",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_lines,
       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def join_hints_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join strategy hints (MERGE, SHUFFLE_HASH): the same three-table
    revenue rollup with the physical strategy PINNED per join instead of
    left to cost estimation.

    customer⋈orders is hinted MERGE (sort-merge: both sides sort-spill —
    the safe choice when both sides are huge and memory is tight);
    ⋈lineitem is hinted SHUFFLE_HASH (build a hash table per partition:
    cheaper than sorting when one side is much smaller per key but still
    too big to broadcast). At 100 TB these hints are how you override a
    mis-estimated cardinality before it picks a plan that spills for
    hours; the result must be IDENTICAL under any strategy — which is
    exactly what the hash check proves. tests/test_plans.py pins both
    operators in the pre-AQE plan.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    co = c.hint("merge").join(o, c.c_custkey == o.o_custkey)
    full = co.join(
        li.hint("shuffle_hash"), co.o_orderkey == li.l_orderkey
    )
    return (
        full.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            cents_sum(F.col("l_extendedprice")).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "udtf_polymorphic_tokens",
    category="U5,L4,E118",
    oracle="""
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE doc_id < 50
), x AS (
  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS i
  FROM s
), w AS (
  SELECT doc_id, word,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT)
           AS pos
  FROM x WHERE word <> ''
)
SELECT doc_id, word, pos
FROM w
ORDER BY doc_id, pos
""",
)
def udtf_polymorphic_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (static analyze()): the table function's
    output schema is computed at plan time from its arguments instead of
    being declared once — Spark 4's answer to generic exploders whose
    shape depends on input.

    U5's udtf_shingles declares a fixed returnType; here analyze()
    returns the AnalyzeResult, so one registration serves any schema the
    arguments imply (the extension point behind things like
    variant_explode). The eval body stays a plain generator; rows flow
    through Arrow like any UDTF. Empty tokens are skipped to keep the
    SQL twin (split + unnest) exact.
    """
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import IntegerType, LongType, StringType, StructType

    class Tokens:
        @staticmethod
        def analyze(*args):
            from pyspark.sql.udtf import AnalyzeResult

            schema = (
                StructType()
                .add("doc_id", LongType())
                .add("word", StringType())
                .add("pos", IntegerType())
            )
            return AnalyzeResult(schema)

        def eval(self, doc_id, text):
            pos = 0
            for w in str(text).split(" "):
                if w:
                    yield (doc_id, w, pos)
                    pos += 1

    tok = udtf(Tokens)
    spark.udtf.register("sg_tokens", tok)
    load(spark, sf_dir, "documents").where(
        F.col("doc_id") < 50
    ).createOrReplaceTempView("docs_tok_v")
    return spark.sql(
        """
        SELECT t.doc_id, t.word, t.pos
        FROM docs_tok_v d,
             LATERAL sg_tokens(d.doc_id, d.text) t
        ORDER BY t.doc_id, t.pos
        """
    )


@query(
    "sql_pipe_syntax_rollup",
    category="A1,E119",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
HAVING count(*) > 10
ORDER BY o_orderpriority
""",
)
def sql_pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 `|>`): the same logical query written as
    a left-to-right dataflow — FROM … |> WHERE … |> AGGREGATE … GROUP BY
    … |> WHERE … |> ORDER BY — instead of the inside-out SELECT nesting.

    Each pipe stage is exactly one relational operator applied to the
    rows flowing in, so query text order finally matches plan order
    (post-aggregation filters are just another WHERE — no HAVING
    special case). Catalyst compiles both spellings to the identical
    plan; the hash check against the classic form proves it.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_v")
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE count(*) AS n, sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total
           GROUP BY o_orderpriority
        |> WHERE n > 10
        |> SELECT o_orderpriority, CAST(n AS BIGINT) AS n, total
        |> ORDER BY o_orderpriority
        """
    )


@query(
    "parameterized_sql_identifier",
    category="P2,E120",
    oracle="""
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(s_acctbal), 2) AS total_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal > 1000.0
GROUP BY n_name
ORDER BY n_name
""",
)
def parameterized_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named args) + the IDENTIFIER() clause: the
    table NAME and the filter threshold both arrive as bind parameters —
    no f-string splicing anywhere.

    Untrusted-input discipline at any scale: value parameters bind as
    literals (plan-cache friendly, injection-proof) and IDENTIFIER()
    is the only sanctioned way to parameterize an identifier — it
    resolves through the analyzer's quoting rules instead of raw text
    concatenation. One spark.sql call, two parameter kinds, same plan
    as the static query.
    """
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_param_v")
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation_param_v")
    return spark.sql(
        """
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               round(sum(s_acctbal), 2) AS total_bal
        FROM IDENTIFIER(:sup_tab) JOIN IDENTIFIER(:nat_tab)
          ON s_nationkey = n_nationkey
        WHERE s_acctbal > :min_bal
        GROUP BY n_name
        ORDER BY n_name
        """,
        args={
            "sup_tab": "supplier_param_v",
            "nat_tab": "nation_param_v",
            "min_bal": 1000.0,
        },
    )


@query(
    "sql_scripting_compound",
    category="A2,E121",
    oracle="""
WITH g AS (
  SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority
)
SELECT CAST((SELECT count(*) FROM g) AS BIGINT) AS n_priorities,
       CAST((SELECT sum(n) FROM g) AS BIGINT) AS n_orders,
       CAST((SELECT max(n) FROM g) AS BIGINT) AS busiest_n
""",
)
def sql_scripting_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 BEGIN…END): a compound statement with
    DECLAREd session variables computed by nested queries, returning the
    final SELECT — procedural glue *inside* the SQL surface, where ETL
    control flow otherwise leaks into Python driver code.

    Each SET executes as an ordinary Catalyst query whose scalar lands
    in a session variable; the script's value is its last statement.
    At 100 TB the win is operational: multi-step maintenance jobs
    (compute threshold → apply filter → record audit row) ship as ONE
    auditable script, not a Python loop of spark.sql calls with state
    in the driver.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_script_v")
    return spark.sql(
        """
        BEGIN
          DECLARE n_pri BIGINT DEFAULT 0;
          DECLARE n_ord BIGINT DEFAULT 0;
          DECLARE busiest BIGINT DEFAULT 0;
          SET n_pri = (SELECT count(DISTINCT o_orderpriority)
                       FROM orders_script_v);
          SET n_ord = (SELECT count(*) FROM orders_script_v);
          SET busiest = (SELECT max(n) FROM (
              SELECT count(*) AS n FROM orders_script_v
              GROUP BY o_orderpriority));
          SELECT n_pri AS n_priorities, n_ord AS n_orders,
                 busiest AS busiest_n;
        END
        """
    )


@query(
    "approx_top_k_event_types",
    category="A4,E122",
    oracle="""
SELECT event_type AS item,
       CAST(count(*) AS BIGINT) AS cnt
FROM events
GROUP BY event_type
ORDER BY cnt DESC, item
LIMIT 3
""",
)
def approx_top_k_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (Spark 4.1's heavy-hitter sketch): top-3 event types
    by frequency from a bounded-memory frequent-items summary.

    The sketch tracks maxItemsTracked (default 10k) candidate items with
    Space-Saving-style counts: one pass, map-side combinable, fixed
    memory — the 100 TB shape for "top domains / top tokens" where exact
    GROUP BY would shuffle the full key domain. The accuracy contract
    that makes it hash-checkable here: counts are EXACT whenever the
    distinct-item count stays within the tracked budget (5 event types ≪
    10k), so the emit equals the exact GROUP BY top-3; beyond the budget
    you get approximate heavy hitters and would switch to a certified
    containment check (the E42 freqItems pattern).
    """
    load(spark, sf_dir, "events").createOrReplaceTempView("events_topk_v")
    return spark.sql(
        """
        SELECT t.s.item AS item, CAST(t.s.count AS BIGINT) AS cnt
        FROM (SELECT explode(approx_top_k(event_type, 3)) AS s
              FROM events_topk_v) t
        ORDER BY cnt DESC, item
        """
    )


@query(
    "variant_explode_props",
    category="F9,E123",
    oracle="""
SELECT event_id,
       0 AS pos,
       'k' AS key,
       CAST(json_extract(props, '$.k') AS VARCHAR) AS val_json
FROM events
WHERE event_id < 500
ORDER BY event_id
""",
)
def variant_explode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """variant_explode (Spark 4 TVF): flatten semi-structured VARIANT
    values into (pos, key, value) rows — the schema-on-read exploder for
    payloads whose keys aren't known at write time.

    parse_json lands the props column as VARIANT (binary-encoded,
    predicate-pushable — the E70 shredding surface); the LATERAL TVF then
    walks each value's top level without any declared schema, unlike
    from_json which needs one up front. Values re-serialize via to_json
    for the §5.4-stable emit (variant binaries are not hash-portable).
    The fixture's single-key objects keep the oracle closed-form; ragged
    multi-key payloads would emit one row per key by the same plan.
    """
    e = load(spark, sf_dir, "events")
    e.where(F.col("event_id") < 500).select(
        "event_id", F.parse_json("props").alias("v")
    ).createOrReplaceTempView("events_variant_v")
    return spark.sql(
        """
        SELECT e.event_id,
               CAST(t.pos AS INT) AS pos,
               t.key,
               to_json(t.value) AS val_json
        FROM events_variant_v e,
             LATERAL variant_explode(e.v) t
        ORDER BY e.event_id, t.pos
        """
    )


# --- E216 (extension): HLL sketch set algebra — intersection estimate ---------


@query(
    "hll_intersection_estimate",
    category="A4,E216",
    oracle="""
WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS exact_view_users,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS exact_purchase_users,
       CAST((SELECT count(*) FROM v JOIN p USING (user_id)) AS BIGINT)
         AS exact_intersection,
       TRUE AS estimate_within_10pct
""",
)
def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch SET ALGEBRA: |A∩B| estimated by inclusion-exclusion over
    three mergeable sketches (est(A) + est(B) − est(A∪B)) — sketches only
    union natively, so intersection must be DERIVED, and its error
    compounds (the reason theta sketches exist). Certified-contract form:
    exact sets via joins, the pinned boolean asserts the HLL-derived
    intersection lands within 10% of the exact one (generous because
    inclusion-exclusion amplifies the three ±rsd errors).

    Scale: each sketch is one partial-aggregated pass (bytes-sized
    state); the union is sketch-merge, not data movement — audience
    overlap at 100 TB without ever shuffling user ids.

    Round 13 (guide §1.2): the first cut scanned events SEVEN times —
    three eager exact counts (two distincts + a distinct-distinct join)
    plus three sketch passes and the union re-scan. Now ONE corpus pass
    builds the distinct (type, user) table (lazily checkpointed, a few
    hundred rows); both sketches ride it (HLL register updates are
    idempotent, so sketch(distinct stream) ≡ sketch(raw stream)
    bit-for-bit), the union estimate is hll_union sketch-MERGE — the
    mergeability this query showcases; it is estimate-equivalent to a
    single-pass union sketch within the sketch's own error, not
    bit-for-bit, since DataSketches' list/set/dense mode transitions can
    differ between the two and the pinned boolean's 10% tolerance absorbs
    that — the exacts are two tiny aggregates (intersection = users
    holding both type rows), and everything lands lazily via the house
    1-row crossJoin scalars — no eager job at construction.
    """
    e = load(spark, sf_dir, "events")
    ue = (
        e.where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    is_v = F.col("event_type") == "view"
    ska = ue.where(is_v).agg(F.hll_sketch_agg("user_id").alias("ska"))
    skb = ue.where(~is_v).agg(F.hll_sketch_agg("user_id").alias("skb"))
    exact_vp = ue.agg(
        F.sum(is_v.cast("long")).alias("__exact_v"),
        F.sum((~is_v).cast("long")).alias("__exact_p"),
    )
    exact_i = (
        ue.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .agg(F.sum((F.col("nt") == 2).cast("long")).alias("__exact_i"))
    )
    est = (
        ska.crossJoin(skb)
        .select(
            (
                F.hll_sketch_estimate("ska")
                + F.hll_sketch_estimate("skb")
                - F.hll_sketch_estimate(F.hll_union("ska", "skb"))
            ).alias("ei")
        )
    )
    return (
        est.crossJoin(F.broadcast(exact_vp))
        .crossJoin(F.broadcast(exact_i))
        .select(
            F.col("__exact_v").cast("bigint").alias("exact_view_users"),
            F.col("__exact_p").cast("bigint").alias("exact_purchase_users"),
            F.col("__exact_i").cast("bigint").alias("exact_intersection"),
            (
                F.abs(F.col("ei") - F.col("__exact_i"))
                <= F.greatest(F.col("__exact_i"), F.lit(1)) * 0.10
            ).alias("estimate_within_10pct"),
        )
    )


# --- E219 (extension): pandas-on-Spark grouped rolling window ------------------


@query(
    "pandas_api_rolling_mean",
    category="U3,E219",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) AS ns,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_fx
  FROM events WHERE user_id < 5
)
SELECT user_id, event_id,
       CAST(floor(avg(v_fx) OVER (PARTITION BY user_id
                                  ORDER BY ns, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  + 0.5) AS BIGINT) AS rmean_fx
FROM e
ORDER BY user_id, event_id
""",
)
def pandas_api_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-on-Spark GROUPED ROLLING window: groupby(...).rolling(3,
    min_periods=1).mean() written in pandas idiom, executing as a Catalyst
    window — the construct pandas teams reach for first when porting, and
    the one that silently becomes a full window shuffle (which is fine:
    that IS the distributed semantics, unlike toPandas).

    Determinism: the ps frame is pre-sorted by the (ns, event_id) total
    order so rolling's positional frame equals the SQL ROWS frame; values
    convert to exact 1e4 fixed-point integers FIRST, so the ≤3-value mean
    is a deterministic small-integer division on both engines, emitted as
    floor(x+0.5) — no float-sum order, no engine round().
    """
    e = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id") < 5)
        .select(
            "user_id",
            "event_id",
            "ts_ns",
            F.floor(F.col("value") * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("v_fx"),
        )
        .orderBy("user_id", "ts_ns", "event_id")
    )
    psdf = e.pandas_api()
    roll = (
        psdf.groupby("user_id")["v_fx"]
        .rolling(3, min_periods=1)
        .mean()
        .reset_index()
    )
    out = roll.to_spark()
    # reset_index yields (user_id, level_1=original positional index, v_fx);
    # rename to break lineage ambiguity with the ids frame (both derive
    # from e — Spark's ambiguous-self-join guard).
    pos_col = [c for c in out.columns if c not in ("user_id", "v_fx")][0]
    out2 = out.select(
        F.col(pos_col).alias("rpos"), F.col("v_fx").alias("rmean_raw")
    )
    ids = e.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("eid"),
        (F.row_number().over(
            Window.orderBy("user_id", "ts_ns", "event_id")
        ) - 1).alias("pos"),
    )
    return (
        out2.join(ids, out2.rpos == ids.pos)
        .select(
            F.col("u").alias("user_id"),
            F.col("eid").alias("event_id"),
            F.floor(F.col("rmean_raw") + F.lit(0.5))
            .cast("bigint")
            .alias("rmean_fx"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# E233: Poisson-bootstrap confidence interval (deterministic, hash-seeded)
# ---------------------------------------------------------------------------

#: Bootstrap replicate count; CI ranks below assume this value.
BOOT_REPS = 200
#: Hash modulus (prime) and Poisson(1) CDF thresholds scaled by it:
#: P(X<=k) for k=0..5 ≈ .36788 .73576 .91970 .98101 .99634 .99941.
BOOT_MOD = 9973
_BOOT_CUTS = (3669, 7338, 9172, 9784, 9937, 9967)

_BOOT_W_SQL = (
    f"CASE WHEN h < {_BOOT_CUTS[0]} THEN 0 WHEN h < {_BOOT_CUTS[1]} THEN 1 "
    f"WHEN h < {_BOOT_CUTS[2]} THEN 2 WHEN h < {_BOOT_CUTS[3]} THEN 3 "
    f"WHEN h < {_BOOT_CUTS[4]} THEN 4 WHEN h < {_BOOT_CUTS[5]} THEN 5 "
    f"ELSE 6 END"
)


@query(
    "poisson_bootstrap_ci",
    category="A4,E233",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), rep AS (
  SELECT b.o_orderkey, b.cents, r.r,
         ((b.o_orderkey % 1000003) * 211 + r.r) * 2654435761 % {BOOT_MOD} AS h
  FROM base b CROSS JOIN (SELECT unnest(range({BOOT_REPS})) AS r) r
), wtd AS (
  SELECT r, cents, {_BOOT_W_SQL} AS w FROM rep
), means AS (
  SELECT r, CAST(sum(w * cents) // sum(w) AS BIGINT) AS mean_cents
  FROM wtd GROUP BY r
), ranked AS (
  SELECT mean_cents,
         row_number() OVER (ORDER BY mean_cents, r) AS rk
  FROM means
), point AS (
  SELECT CAST(sum(cents) // count(*) AS BIGINT) AS point_mean_cents
  FROM base
)
SELECT CAST({BOOT_REPS} AS BIGINT) AS n_reps,
       p.point_mean_cents,
       lo.mean_cents AS ci_lo_cents,
       hi.mean_cents AS ci_hi_cents
FROM point p
CROSS JOIN (SELECT mean_cents FROM ranked WHERE rk = 5) lo
CROSS JOIN (SELECT mean_cents FROM ranked WHERE rk = 196) hi
""",
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap CI for mean(o_totalprice), the Poisson way:
    instead of resampling n-of-n (which needs coordinated randomness no
    engine can shard), each row independently enters replicate r with
    multiplicity ~ Poisson(1) — the classic scale-out bootstrap — and the
    multiplicity is DERIVED, not drawn: a Knuth multiplicative hash of
    (orderkey, r) thresholded through the scaled Poisson(1) CDF. Any
    engine, any partitioning, any rerun resamples identically, which is
    what makes a resampling method hash-checkable at all.

    The 95% CI is the pair of exact order statistics (5th, 196th of 200
    sorted replicate means — ties broken by replicate id); everything is
    integer cents end to end (means by `div`), so no float crosses
    engines anywhere.

    Scale shape: explode(sequence(0,199)) fans each row out at the
    executor; the per-replicate partial aggregate collapses every task
    to ≤200 rows BEFORE the shuffle, so the network carries 200·tasks
    tiny rows however big the fact table is, and the order-statistics
    sort runs on 200 rows. (The hash pre-mods the key at 1e6 so the
    64-bit product never overflows at any SF.)
    """
    from ..numeric import cents

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("cents")
    )
    rep = o.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("r"),
    ).withColumn(
        "h",
        ((F.col("o_orderkey") % 1000003) * 211 + F.col("r"))
        * 2654435761
        % BOOT_MOD,
    )
    wtd = rep.withColumn("w", F.expr(_BOOT_W_SQL))
    means = (
        wtd.groupBy("r")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("sumc"),
             F.sum("w").alias("nw"))
        .select("r", F.expr("CAST(sumc div nw AS BIGINT)").alias("mean_cents"))
    )
    ranked = means.withColumn(
        "rk", F.row_number().over(Window.orderBy("mean_cents", "r"))
    )
    point = o.agg(
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias(
            "point_mean_cents"
        )
    )
    lo = ranked.where(F.col("rk") == 5).select(
        F.col("mean_cents").alias("ci_lo_cents")
    )
    hi = ranked.where(F.col("rk") == 196).select(
        F.col("mean_cents").alias("ci_hi_cents")
    )
    return (
        point.crossJoin(lo)
        .crossJoin(hi)
        .select(
            F.lit(BOOT_REPS).cast("long").alias("n_reps"),
            "point_mean_cents",
            "ci_lo_cents",
            "ci_hi_cents",
        )
    )
