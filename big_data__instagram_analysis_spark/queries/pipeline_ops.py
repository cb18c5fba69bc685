"""Pipeline-operations extensions (SURVEY.md §2.12 E150, E152, E154, E155).

Four ops a production data platform runs daily that aren't plain relational
queries: duplicate-cluster survivor selection (the step that actually DROPS
data in a dedup pipeline), small-file compaction planning (table
maintenance), an ordered multi-step funnel with per-step time bounds (the
MATCH_RECOGNIZE shape), and BFS shortest-path levels (iterative graph
traversal checked against a recursive-CTE oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load, local_frame
from ..operators.dedup import ngram_jaccard_pairs
from ..registry import query

# --- E150: dedup survivor selection (keep-best, not keep-first) --------------

_KEEP_BEST = """
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
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN label l ON d.doc_id = l.doc_id
), ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM labeled
)
SELECT cluster_id,
       CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS survivor_doc_id,
       CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS survivor_chars,
       CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(count(*) - 1 AS BIGINT) AS removed_docs,
       CAST(sum(n_chars) - max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
         AS removed_chars
FROM ranked
GROUP BY cluster_id
ORDER BY cluster_id
"""


@query("dedup_keep_best_survivors", category="E150,L2", oracle=_KEEP_BEST)
def dedup_keep_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over near-dup clusters: keep the LONGEST document
    per cluster (n_chars, doc_id tiebreak) — the policy step that turns
    cluster labels into an actual dedup decision. Crawl pipelines keep the
    best-quality member, not the arbitrary min-id one; this emits, per
    cluster, the survivor plus how many docs/chars the decision removes.

    Scale: clusters come from operators/graph.py's alternating
    large-star/small-star CC (O(log n) shuffle rounds); survivor pick is
    one rank window partitioned by cluster_id — group size = cluster size,
    bounded by true duplication multiplicity. The oracle recomputes
    components via recursive-CTE transitive closure + the same rank.
    """
    from ..operators.graph import attach_components

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5).select("doc_a", "doc_b")
    labeled = attach_components(
        d.select("doc_id", "n_chars"), pairs, "doc_id", src="doc_a", dst="doc_b"
    )
    rk = F.row_number().over(
        Window.partitionBy("component").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
    )
    ranked = labeled.select(
        F.col("component").alias("cluster_id"), "doc_id", "n_chars", rk.alias("rk")
    )
    survivor_chars = F.max(F.when(F.col("rk") == 1, F.col("n_chars")))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "survivor_doc_id"
            ),
            survivor_chars.alias("survivor_chars"),
            F.count(F.lit(1)).alias("cluster_size"),
            (F.count(F.lit(1)) - 1).alias("removed_docs"),
            (F.sum("n_chars") - survivor_chars).alias("removed_chars"),
        )
        .orderBy("cluster_id")
    )


# --- E152: small-file compaction planning ------------------------------------

_TARGET_ROWS = 8000
_COMPACT_FILES = 6

_COMPACTION = f"""
WITH per_file AS (
  SELECT CAST(o_orderkey % {_COMPACT_FILES} AS INTEGER) AS file_idx,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM orders
  GROUP BY 1
), binned AS (
  SELECT file_idx, n_rows,
         CAST(floor((sum(n_rows) OVER (ORDER BY file_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_rows) / {_TARGET_ROWS}) AS BIGINT) AS bin_id
  FROM per_file
)
SELECT bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       array_to_string(list(CAST(file_idx AS VARCHAR) ORDER BY file_idx), ',')
         AS file_idxs
FROM binned
GROUP BY bin_id
ORDER BY bin_id
"""


@query("small_file_compaction_plan", category="E152,S7", oracle=_COMPACTION)
def small_file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance planning: write orders partitioned into 6 bucket
    dirs (the "too many small files" state), then build the compaction
    plan — roll files in order into ~8k-row target bins via a prefix-sum
    floor-divide. Emits per-bin file lists the rewrite job would execute.

    Scale: the plan is metadata-only — per-file row counts come from
    grouping on the hidden `_metadata.file_path` column (file identity
    recovered FROM the path, proving path↔partition agreement like
    metadata_hidden_columns), and the binning is one window over #files
    rows, not #rows. The partition key is an explicit o_orderkey % 6
    column rather than opaque writer hash-partitioning so the oracle can
    recompute every per-file count from the base table without touching
    the sink (the suite's sink-free oracle convention).
    """
    from ..sources.readers_writers import sink_path

    o = load(spark, sf_dir, "orders").withColumn(
        "bucket", (F.col("o_orderkey") % _COMPACT_FILES).cast("int")
    )
    path = sink_path("compaction_orders", sf_dir)
    o.write.mode("overwrite").partitionBy("bucket").parquet(path)
    per_file = (
        spark.read.parquet(path)
        .groupBy(
            F.regexp_extract(F.col("_metadata.file_path"), r"bucket=(\d+)", 1)
            .cast("int")
            .alias("file_idx")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    w = Window.orderBy("file_idx").rowsBetween(Window.unboundedPreceding, 0)
    binned = per_file.withColumn(
        "bin_id",
        F.floor((F.sum("n_rows").over(w) - F.col("n_rows")) / _TARGET_ROWS).cast(
            "bigint"
        ),
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("total_rows"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("file_idx").cast("string"))),
                ",",
            ).alias("file_idxs"),
        )
        .orderBy("bin_id")
    )


# --- E154: ordered 3-step funnel with per-step time bounds -------------------

_STEP_NS = 24 * 3600 * 1_000_000_000  # 24 hours per step (fixture events are ~2/user/day)

_FUNNEL3 = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS ns FROM events
), v AS (
  SELECT user_id, min(ns) AS v_ns FROM e WHERE event_type = 'view'
  GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ns) AS c_ns
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ns > v.v_ns
    AND e.ns <= v.v_ns + {_STEP_NS}
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ns) AS p_ns
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ns > c.c_ns
    AND e.ns <= c.c_ns + {_STEP_NS}
  GROUP BY e.user_id
)
SELECT v.user_id,
       CAST(v.v_ns AS BIGINT) AS v_ns,
       CAST(c.c_ns AS BIGINT) AS c_ns,
       CAST(p.p_ns AS BIGINT) AS p_ns,
       CAST((p.p_ns - v.v_ns) // 1000000 AS BIGINT) AS total_ms
FROM v JOIN c ON v.user_id = c.user_id
       JOIN p ON v.user_id = p.user_id
ORDER BY v.user_id
"""


@query("funnel_3step_timed", category="E154,W3", oracle=_FUNNEL3)
def funnel_3step_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel with per-step deadlines: first view → first
    click within 24 h of it → first purchase within 24 h of THAT click — the
    MATCH_RECOGNIZE / sequential-pattern shape, emitted per completing
    user with exact int64-ns stage timestamps.

    Scale: three conditional-min aggregations, each one shuffle on
    user_id (co-partitioned, so AQE elides re-exchange after the first);
    each later stage joins the previous stage's per-user single row, never
    the raw event history — state per user is O(1), unlike a
    collect-sort-scan UDF. Time math stays in exact integer nanoseconds
    (io.load's ts_ns ↔ DuckDB epoch_ns), immune to timezone and float
    issues.
    """
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts_ns")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("v_ns"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts_ns") > F.col("v_ns"))
            & (F.col("ts_ns") <= F.col("v_ns") + F.lit(_STEP_NS))
        )
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("c_ns"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts_ns") > F.col("c_ns"))
            & (F.col("ts_ns") <= F.col("c_ns") + F.lit(_STEP_NS))
        )
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("p_ns"))
    )
    return (
        v.join(c, "user_id")
        .join(p, "user_id")
        .select(
            "user_id",
            "v_ns",
            "c_ns",
            "p_ns",
            F.expr("(p_ns - v_ns) div 1000000").alias("total_ms"),
        )
        .orderBy("user_id")
    )


# --- E155: BFS levels vs recursive-CTE shortest path -------------------------

_NS_PER_HOUR = 3600 * 1_000_000_000
_BFS_MAX_DEPTH = 4

_BFS = f"""
WITH RECURSIVE hours AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // {_NS_PER_HOUR} AS h
  FROM events WHERE user_id < 60
), edges AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM hours a JOIN hours b ON a.h = b.h AND a.user_id <> b.user_id
), root AS (
  SELECT min(src) AS s FROM edges
), walk(node, dist) AS (
  SELECT s, 0 FROM root
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {_BFS_MAX_DEPTH}
)
SELECT CAST(node AS BIGINT) AS user_id, CAST(min(dist) AS INTEGER) AS dist
FROM walk
GROUP BY node
ORDER BY user_id
"""


@query("bfs_levels_coactivity", category="E155,E12", oracle=_BFS)
def bfs_levels_coactivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path levels (≤4 hops) from the lowest-id user over the
    hour-bucket co-activity graph — the traversal primitive behind
    friend-of-friend and contamination-spread queries. Oracle = bounded
    recursive CTE taking min(dist) per node.

    Scale: frontier-expansion BFS — each round joins the CURRENT FRONTIER
    (not the visited set) against edges on src, anti-joins the visited
    set, and localCheckpoint()s so the plan stays O(1) per round instead
    of nesting; rounds = graph diameter (bounded to 4 here), shuffle
    volume per round = frontier fan-out, the textbook distributed BFS.
    The driver loop only orchestrates — no per-node data ever collects.
    """
    e = load(spark, sf_dir, "events").where(F.col("user_id") < 60)
    # Exact integer `div` — double division on ~1.7e18 ns has a ~256 ns ulp,
    # so a timestamp within that of an hour boundary could bucket differently
    # than the oracle's integer `//` (SKILL.md gotcha; matches
    # linear_interpolate_hourly).
    hours = e.select(
        "user_id", F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("h")
    ).distinct()
    a, b = hours.alias("a"), hours.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") != F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    source = edges.agg(F.min("src")).collect()[0][0]
    if source is None:  # no co-activity edges (possible on altered fixtures)
        return local_frame(spark, [], "user_id bigint, dist int")
    from ..operators.graph import bfs_levels

    visited = bfs_levels(edges, source, max_depth=_BFS_MAX_DEPTH)
    return visited.select(
        F.col("node").cast("bigint").alias("user_id"),
        F.col("dist").cast("int").alias("dist"),
    ).orderBy("user_id")


# --- E161: exact rolling median (window percentile) --------------------------

_ROLL_MED = """
WITH e AS (
  SELECT event_type, event_id, epoch_ns(ts) AS ns, value
  FROM events WHERE user_id < 20
)
SELECT event_type, event_id,
       CAST(floor(median(value) OVER (PARTITION BY event_type
                                      ORDER BY ns, event_id
                                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  * 10000 + 0.5) AS BIGINT) AS med7_x1e4
FROM e
ORDER BY event_type, event_id
"""


@query("rolling_median_value", category="E161,W6,A7", oracle=_ROLL_MED)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-row median per event type — the robust-smoothing
    window (median is the order statistic moving averages can't fake, and
    percentile-in-a-frame is the shape engines often lack).

    Scale: one shuffle on the window partition key; the frame holds ≤7
    values per row so the per-row sort inside percentile() is O(7 log 7) —
    constant — and state never exceeds the frame. Exact (not approx)
    because the frame is bounded: percentile sketches are for unbounded
    groups, not fixed frames. Both engines average the two middle doubles
    identically for even frames (IEEE, same operands); the emit is
    floor(x*1e4+0.5) — exact integer, immune to the engine round()
    half-boundary divergence (observed on E163's first cut).
    The (ns, event_id) order key is a total order — frame contents are
    engine-independent.
    """
    e = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .select("event_type", "event_id", "ts_ns", "value")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-6, 0)
    )
    return (
        e.select(
            "event_type",
            "event_id",
            F.floor(F.expr("percentile(value, 0.5)").over(w) * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("med7_x1e4"),
        )
        .orderBy("event_type", "event_id")
    )


# --- E163: linear interpolation over an hourly spine -------------------------

_NS_HOUR = 3600 * 1_000_000_000

_LERP = f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) // {_NS_HOUR} AS h, value
  FROM events WHERE user_id < 10
), known AS (
  -- exact integer micro-units per event, then identical sum/count division
  SELECT user_id, h,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / count(*) / 1000000.0 AS v
  FROM e GROUP BY user_id, h
), span AS (
  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM known GROUP BY user_id
), spine AS (
  SELECT s.user_id, g.h
  FROM span s, LATERAL (SELECT unnest(range(s.h0, s.h1 + 1)) AS h) g
), joined AS (
  SELECT sp.user_id, sp.h, k.v
  FROM spine sp LEFT JOIN known k ON k.user_id = sp.user_id AND k.h = sp.h
), bounded AS (
  SELECT user_id, h, v,
         last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM joined
)
SELECT user_id, CAST(h AS BIGINT) AS h,
       (v IS NOT NULL) AS observed,
       CAST(floor((CASE
         WHEN v IS NOT NULL THEN v
         ELSE pv + (nv - pv) * (h - ph) / (nh - ph)
       END) * 1000000 + 0.5) AS BIGINT) AS v_interp_u
FROM bounded
ORDER BY user_id, h
"""


@query("linear_interpolate_hourly", category="E163,W6", oracle=_LERP)
def linear_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a dense hourly spine: per user, hours
    without observations get pv + (nv − pv)·(h − ph)/(nh − ph) between the
    bracketing known points — the time-series regularization step before
    any windowed model (gap_fill_forward's ffill only repeats; this
    actually interpolates).

    Scale: the spine is explode(sequence(h0, h1)) per user — generated at
    the executor, rows ∝ span-hours, no driver loop; bracketing points
    come from two IGNORE NULLS window passes (last-before, first-after)
    over the spine order, each one shuffle on user_id. Determinism: every
    observation converts to exact integer micro-units first, the per-hour
    mean is written as the same sum/count/1e6 division chain on both
    engines, and the lerp output emits as floor(x*1e6+0.5) — an exact
    BIGINT, because engine round() half-boundary behavior diverges on
    doubles (the first cut failed exactly there).
    Interior hours always have both brackets (spine ends at observed
    extremes); `observed` flags real vs synthesized rows for downstream.
    """
    e = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id") < 10)
        .select(
            "user_id",
            F.expr(f"ts_ns div {_NS_HOUR}").alias("h"),
            "value",
        )
    )
    value_u = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("bigint")
    known = e.groupBy("user_id", "h").agg(
        (
            F.sum(value_u).cast("double") / F.count(F.lit(1)) / F.lit(1_000_000.0)
        ).alias("v")
    )
    span = known.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    joined = spine.join(known, ["user_id", "h"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    kh = F.when(F.col("v").isNotNull(), F.col("h"))
    bounded = joined.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(kh, ignorenulls=True).over(wb).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(kh, ignorenulls=True).over(wf).alias("nh"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("h") - F.col("ph")
    ) / (F.col("nh") - F.col("ph"))
    return bounded.select(
        "user_id",
        F.col("h").cast("bigint").alias("h"),
        F.col("v").isNotNull().alias("observed"),
        F.floor(
            (F.when(F.col("v").isNotNull(), F.col("v")).otherwise(lerp))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("v_interp_u"),
    ).orderBy("user_id", "h")


# --- E186: MERGE INTO emulation (update / insert / delete in one pass) -------

_MERGE = """
WITH src AS (  -- deterministic change feed derived from the table itself
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'D'
              WHEN c_custkey % 10 = 1 THEN 'U' END AS op
  FROM customer
  WHERE c_custkey % 10 IN (0, 1)
  UNION ALL
  SELECT c_custkey + 1000000, 'I' FROM customer WHERE c_custkey % 10 = 2
), merged AS (
  SELECT coalesce(t.c_custkey, s.c_custkey) AS k,
         CASE
           WHEN s.op = 'D' THEN NULL                          -- matched+delete
           WHEN s.op = 'U' THEN round(t.c_acctbal + 100, 2)   -- matched+update
           WHEN s.op = 'I' THEN 0.0                           -- not-matched+insert
           ELSE round(t.c_acctbal, 2)                         -- untouched
         END AS bal,
         CASE WHEN s.op IS NULL THEN 'keep' ELSE s.op END AS action
  FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
)
SELECT action,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN bal IS NOT NULL
                     THEN CAST(round(bal * 100) AS BIGINT) END) AS BIGINT)
         AS bal_cents
FROM merged
GROUP BY action
ORDER BY action
"""


@query("merge_into_emulation", category="E186,J3", oracle=_MERGE)
def merge_into_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics — WHEN MATCHED UPDATE / WHEN MATCHED DELETE /
    WHEN NOT MATCHED INSERT — as one full-outer-join pass, the batch form
    of the lakehouse upsert (what Delta/Iceberg MERGE compiles to when no
    file-skipping applies). The change feed is derived deterministically
    from the table itself (key%10: 0→delete, 1→update, 2→insert-new) so
    the oracle rebuilds the identical merge in SQL.

    Scale: ONE shuffle on the merge key for the full outer join; each
    clause is a projection case — no per-clause scans, no second pass.
    A real table format adds file pruning on top (only files whose
    key-range intersects the source rewrite); the row-level semantics are
    exactly this join. Deleted rows stay visible here with NULL balance
    under action='D' so the hash check covers all four outcomes.
    """
    c = load(spark, sf_dir, "customer")
    upd_del = c.where(F.col("c_custkey") % 10 < 2).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, "D").otherwise("U").alias("op"),
    )
    ins = c.where(F.col("c_custkey") % 10 == 2).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"), F.lit("I").alias("op")
    )
    src = upd_del.unionByName(ins)
    t = c.select(F.col("c_custkey").alias("t_key"), "c_acctbal")
    merged = t.join(src, t.t_key == src.c_custkey, "full_outer").select(
        F.when(F.col("op") == "D", F.lit(None).cast("double"))
        .when(F.col("op") == "U", F.round(F.col("c_acctbal") + 100, 2))
        .when(F.col("op") == "I", F.lit(0.0))
        .otherwise(F.round("c_acctbal", 2))
        .alias("bal"),
        F.coalesce("op", F.lit("keep")).alias("action"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("bal").isNotNull(),
                    F.round(F.col("bal") * 100).cast("bigint"),
                )
            ).alias("bal_cents"),
        )
        .orderBy("action")
    )


# --- E191: exact chi-square independence statistic ---------------------------

_CHISQ = """
WITH obs AS (
  SELECT e.event_type AS t, c.c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS o
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  GROUP BY 1, 2
), margins AS (
  SELECT t, seg, o,
         sum(o) OVER (PARTITION BY t) AS row_tot,
         sum(o) OVER (PARTITION BY seg) AS col_tot,
         sum(o) OVER () AS n
  FROM obs
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(min(n) AS BIGINT) AS n_obs,
       CAST(floor(sum(
         (o - row_tot * col_tot * 1.0 / n)
         * (o - row_tot * col_tot * 1.0 / n)
         / (row_tot * col_tot * 1.0 / n)
       ) * 1000000 + 0.5) AS BIGINT) AS chi2_x1e6
FROM margins
"""


@query("chisq_type_by_segment", category="E191,A8", oracle=_CHISQ)
def chisq_type_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for event_type × market segment — the
    categorical-independence test behind every A/B significance check,
    computed EXACTLY: observed counts and margins are integers, expected
    counts are the identical rational expression row·col/n on both
    engines, and the statistic emits as floor(x·1e6+0.5). No p-value on
    purpose — that needs the incomplete-gamma from libm, whose last ulp
    differs across runtimes; the statistic is the deterministic part
    (df = (R−1)(C−1) lets any caller look it up).

    Scale: one fact join+agg shuffle to the contingency table (R×C rows),
    margins as windows OVER that tiny table, one-row output.

    The sum over cells is order-dependent in principle (float adds), but
    each term derives from exact integers with magnitudes within 2^53 and
    the cell count is 25 — verified hash-stable across both engines at
    both SFs; a paranoid caller can sort-aggregate the terms instead.
    """
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    obs = (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy(
            F.col("event_type").alias("t"), F.col("c_mktsegment").alias("seg")
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    wr = Window.partitionBy("t")
    wc2 = Window.partitionBy("seg")
    wg = Window.partitionBy()
    m = obs.select(
        "o",
        F.sum("o").over(wr).alias("row_tot"),
        F.sum("o").over(wc2).alias("col_tot"),
        F.sum("o").over(wg).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") * 1.0 / F.col("n")
    term = (F.col("o") - exp) * (F.col("o") - exp) / exp
    return m.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("n").alias("n_obs"),
        F.floor(F.sum(term) * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("chi2_x1e6"),
    )


# --- E202: join-key skew diagnostic report -----------------------------------

_SKEW = """
WITH keyed AS (
  SELECT 'l_orderkey' AS join_key, l_orderkey AS k FROM lineitem
  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
  UNION ALL SELECT 'o_custkey', o_custkey FROM orders
), counts AS (
  SELECT join_key, k, CAST(count(*) AS BIGINT) AS n
  FROM keyed GROUP BY join_key, k
), ranked AS (
  SELECT join_key, k, n,
         row_number() OVER (PARTITION BY join_key ORDER BY n DESC, k) AS rn
  FROM counts
)
SELECT c.join_key,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(c.n) AS BIGINT) AS n_rows,
       CAST(max(c.n) AS BIGINT) AS max_per_key,
       CAST(floor(max(c.n) * 1000.0 * count(*) / sum(c.n) + 0.5) AS BIGINT)
         AS skew_x1000,
       CAST(max(CASE WHEN r.rn = 1 THEN c.k END) AS BIGINT) AS hottest_key
FROM counts c JOIN ranked r ON r.join_key = c.join_key AND r.k = c.k
GROUP BY c.join_key
ORDER BY c.join_key
"""


@query("join_key_skew_report", category="E202,A1", oracle=_SKEW)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: for each candidate join key, the key
    cardinality, row count, hottest key, and a skew factor
    (max-per-key / mean-per-key, ×1000 integer) — the report that decides
    BETWEEN the suite's join strategies (broadcast vs shuffle vs salted:
    skew_x1000 >> 1000 is the E5 salting trigger; AQE's skew-join split
    threshold is the same statistic at partition granularity).

    Scale: one count shuffle per key column (map-side combined), then
    per-key-family stats over the count table — the heavy fact table is
    read once per key column and reduced immediately; nothing wide ever
    shuffles. The skew factor is emitted in exact integer parts-per-1000.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    # Round 13 (guide §1.2/§2.4): the three lineitem key columns rode one
    # union branch each — three full fact scans; an in-row explode of the
    # three (join_key, k) structs reads the fact table ONCE (same bytes —
    # parquet reads 3 columns once instead of 1 column three times — but a
    # third of the scan tasks). And the hottest key needed no row_number
    # window over the key-cardinality counts table (an exchange + sort that
    # grows with the key domain): max(struct(n, -k)) picks the same
    # (n DESC, k ASC) winner inside the existing aggregate.
    keyed = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("join_key"), F.col(name).alias("k")
                    )
                    for name in ("l_orderkey", "l_partkey", "l_suppkey")
                ]
            )
        ).alias("jk")
    ).select("jk.join_key", "jk.k").unionByName(
        o.select(
            F.lit("o_custkey").alias("join_key"), F.col("o_custkey").alias("k")
        )
    )
    counts = keyed.groupBy("join_key", "k").agg(F.count(F.lit(1)).alias("n"))
    hottest = F.max(F.struct(F.col("n"), (-F.col("k")).alias("negk")))
    return (
        counts.groupBy("join_key")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_per_key"),
            F.floor(
                F.max("n") * 1000.0 * F.count(F.lit(1)) / F.sum("n") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("skew_x1000"),
            (-hottest.getField("negk")).alias("hottest_key"),
        )
        .orderBy("join_key")
    )


# --- E205: referential-integrity audit ---------------------------------------

_RI = """
SELECT 'lineitem.l_orderkey->orders' AS fk,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
UNION ALL
SELECT 'orders.o_custkey->customer',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
UNION ALL
SELECT 'nation.n_regionkey->region',
       CAST((SELECT count(*) FROM nation) AS BIGINT),
       CAST((SELECT count(*) FROM nation n
             WHERE NOT EXISTS (SELECT 1 FROM region r
                               WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT)
ORDER BY fk
"""

_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


@query("referential_integrity_audit", category="E205,J5", oracle=_RI)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key audit over the whole star schema: for each declared FK
    edge, the child row count and the orphan count (children whose parent
    key is missing) — the constraint check a lakehouse runs since parquet
    enforces nothing. All six edges in one plan.

    Scale: every orphan check is a left-anti join on the FK (the NOT
    EXISTS rewrite); parents reduce to their DISTINCT key column before
    the join (one narrow column, broadcastable for dims, shuffled for
    facts). A healthy catalog returns zeros — which is exactly the
    assertion: any ingestion bug that strands children flips the hash.
    The nonempty-oracle gate is satisfied by construction (6 edge rows,
    never 0)."""
    counts = []
    for child, fk, parent, pk in _FK_EDGES:
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent).select(pk).distinct()
        orphans = c.join(p, c[fk] == p[pk], "left_anti")
        counts.append(
            c.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            )
            .select(
                F.lit(f"{child}.{fk}->{parent}").alias("fk"),
                "n_child",
                "n_orphans",
            )
        )
    out = counts[0]
    for c2 in counts[1:]:
        out = out.unionByName(c2)
    return out.orderBy("fk")


# --- E214: incremental materialized-JOIN maintenance -------------------------

_IVM_JOIN = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query("incremental_join_maintenance", category="E214,J1", oracle=_IVM_JOIN)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view: with base/delta
    splits of both sides (A = base∪ΔA, B = base∪ΔB), the maintained
    aggregate is assembled from FOUR partial terms —
    agg(A₀⋈B₀) + agg(ΔA⋈B₀) + agg(A₀⋈ΔB) + agg(ΔA⋈ΔB) — the classic
    Δ(A⋈B) IVM identity. The full A⋈B is never formed on the Spark side;
    the oracle computes it directly, so the hash proves the decomposition.

    The point at 100 TB: when a micro-batch lands, only the Δ-terms run
    (|Δ|·|B| keyed work, not |A|·|B|), and agg(A₀⋈B₀) is the stored view
    from the previous run — here recomputed once to keep the query
    self-contained, with the three delta terms exercising exactly the
    incremental path. Complements E81's aggregate-only retraction folding
    with the join-shaped case. Money in exact integer cents; the four
    partial aggregates merge by summation because count/sum are
    commutative monoids — the property IVM needs.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    a0 = o.where(F.col("o_orderkey") % 5 != 0)
    da = o.where(F.col("o_orderkey") % 5 == 0)
    b0 = c.where(F.col("c_custkey") % 7 != 0)
    db = c.where(F.col("c_custkey") % 7 == 0)

    def term(orders_part, cust_part):
        return (
            orders_part.join(
                cust_part, orders_part.o_custkey == cust_part.c_custkey
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(cents).alias("revenue_cents"),
            )
        )

    merged = (
        term(a0, b0)
        .unionByName(term(da, b0))
        .unionByName(term(a0, db))
        .unionByName(term(da, db))
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )
    return merged.orderBy("c_mktsegment")


# --- E269: token-budget shard packing (training-stream sharding) -------------

#: Tokens per training shard. Small enough that every base tier produces
#: multiple shards per source (non-vacuous at sf0.001), large enough that
#: the output stays |total_tokens|/BUDGET rows — linear in the corpus, like
#: any shard manifest.
PACK_TOKEN_BUDGET = 512


@query(
    "pack_shards_token_budget",
    category="L4,P6,E269",
    oracle=f"""
WITH toks AS (
  SELECT source, doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
  FROM documents
), cum AS (
  SELECT source, doc_id, n_tok,
         COALESCE(sum(n_tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM toks
), asg AS (
  SELECT source, doc_id, n_tok,
         cum_before // {PACK_TOKEN_BUDGET} AS shard_id
  FROM cum
)
SELECT source, CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM asg
GROUP BY source, shard_id
ORDER BY source, shard_id
""",
)
def pack_shards_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-based token sharding: the manifest step that turns a curated
    corpus into fixed-budget training shards (Megatron/GPT-style contiguous
    token streams — a document belongs to the shard its starting token
    OFFSET falls in, so shard boundaries are pure integer arithmetic on the
    running total).

    Deliberately NOT greedy first-fit bin packing: greedy packing is a
    sequential recurrence (each decision depends on the previous shard's
    remaining room) with no associative decomposition — the offset rule is
    what distributed pipelines actually use because it needs only a
    prefix-sum, is deterministic under a (source, doc_id) total order, and
    reshards identically on any cluster size.

    Plan: one scan → in-row token count (no explode — `size(filter(...))`
    on the split array) → per-SOURCE cumulative window (the 100 TB sort is
    per-source, never global) → integer div → shard agg. All-integer
    output; the window's ROWS BETWEEN ... AND 1 PRECEDING gives the
    pre-doc offset so a doc straddling a boundary lands in the shard it
    STARTS in, matching the oracle's `//` exactly.
    """
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    asg = (
        d.select("source", "doc_id", n_tok.alias("n_tok"))
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
        )
        .withColumn(
            "shard_id", F.expr(f"cum_before div {PACK_TOKEN_BUDGET}")
        )
    )
    return (
        asg.groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard_id")
    )


# --- E271: Neyman-allocation stratified eval-split design ---------------------

#: Total evaluation-sample budget to allocate across strata.
NEYMAN_BUDGET = 1000


@query(
    "neyman_allocation_split",
    category="A8,L4,E271",
    oracle=f"""
WITH m AS (
  SELECT o_orderpriority AS stratum,
         count(*) AS n_rows,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s1,
         sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)
             * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s2
  FROM orders
  GROUP BY 1
), w AS (
  SELECT stratum, n_rows,
         round(sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n_rows AS DOUBLE))
                    / (CAST(n_rows AS DOUBLE) - 1)) / 100.0, 4) AS sd_price,
         CAST(floor(CAST(n_rows AS DOUBLE)
                    * sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                              / CAST(n_rows AS DOUBLE))
                           / (CAST(n_rows AS DOUBLE) - 1)) + 0.5) AS BIGINT)
           AS weight_u
  FROM m
), t AS (
  SELECT sum(weight_u) AS w_tot FROM w
), a AS (
  SELECT stratum, n_rows, sd_price, weight_u,
         {NEYMAN_BUDGET} * weight_u // (SELECT w_tot FROM t LIMIT 1) AS base_n,
         {NEYMAN_BUDGET} * weight_u % (SELECT w_tot FROM t LIMIT 1) AS rem,
         row_number() OVER (
           ORDER BY {NEYMAN_BUDGET} * weight_u % (SELECT w_tot FROM t LIMIT 1) DESC,
                    stratum) AS rem_rank
  FROM w
), l AS (
  SELECT {NEYMAN_BUDGET} - sum(base_n) AS leftover FROM a
)
SELECT stratum, CAST(n_rows AS BIGINT) AS n_rows, sd_price,
       CAST(weight_u AS BIGINT) AS weight_u,
       CAST(base_n + CASE WHEN rem_rank <= (SELECT leftover FROM l)
                          THEN 1 ELSE 0 END AS BIGINT) AS alloc_n,
       CAST((base_n + CASE WHEN rem_rank <= (SELECT leftover FROM l)
                           THEN 1 ELSE 0 END) * 1000000 // n_rows AS BIGINT)
         AS sampling_ppm
FROM a
ORDER BY stratum
""",
)
def neyman_allocation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified eval-split design: allocate a fixed
    evaluation budget across strata ∝ N_h·σ_h — the allocation that
    minimizes the estimator variance of a stratified mean (Neyman 1934),
    i.e. how an eval set SHOULD be drawn when strata differ in spread
    (high-variance order priorities get proportionally more samples than
    population share alone would give).

    Exactness discipline: σ_h comes from exact integer cents moments
    (S2 in decimal(38,0)/HUGEINT — the stats_aggs A8 contract) converted
    to double with a TEXTUALLY identical formula in both engines;
    weights are per-row quantized (floor(N_h·σ_h + 0.5) — deterministic
    IEEE per row, no multi-row float sum anywhere) and the allocation is
    LARGEST-REMAINDER on pure integers: base = B·w_h div W, leftover
    distributed by (remainder DESC, stratum) row_number — Σ alloc_n is
    exactly B by construction, every emitted number integer-exact.

    Plan: one scan → map-side-combinable per-stratum moments (|strata|
    rows) → |strata|-row windows for the total/ranks. The 100 TB cost is
    the scan; everything after the first agg touches 5 rows.
    """
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    m = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("s1"),
        F.sum(
            (cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    )
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double")
        * F.col("s1").cast("double")
        / F.col("n_rows").cast("double")
    ) / (F.col("n_rows").cast("double") - 1)
    w = m.select(
        "stratum",
        "n_rows",
        F.round(F.sqrt(var) / 100.0, 4).alias("sd_price"),
        F.floor(F.col("n_rows").cast("double") * F.sqrt(var) + F.lit(0.5))
        .cast("bigint")
        .alias("weight_u"),
    )
    wall = Window.partitionBy()
    rem_w = Window.partitionBy().orderBy(
        F.desc(F.lit(NEYMAN_BUDGET) * F.col("weight_u") % F.col("w_tot")),
        "stratum",
    )
    a = (
        w.withColumn("w_tot", F.sum("weight_u").over(wall))
        .withColumn(
            "base_n", F.expr(f"{NEYMAN_BUDGET} * weight_u div w_tot")
        )
        .withColumn("rem_rank", F.row_number().over(rem_w))
        .withColumn(
            "leftover", F.lit(NEYMAN_BUDGET) - F.sum("base_n").over(wall)
        )
    )
    alloc = F.col("base_n") + F.when(
        F.col("rem_rank") <= F.col("leftover"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        a.select(
            "stratum",
            "n_rows",
            "sd_price",
            "weight_u",
            alloc.cast("bigint").alias("alloc_n"),
            F.expr(
                f"cast((base_n + if(rem_rank <= leftover, 1, 0)) * 1000000 "
                "div n_rows as bigint)"
            ).alias("sampling_ppm"),
        )
        .orderBy("stratum")
    )
