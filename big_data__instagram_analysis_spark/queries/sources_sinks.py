"""Source/sink round-trip queries (SURVEY.md §2.1 S2-S7; S1 is exercised by
every other query, S8/S9 by queries/streaming.py).

Each query writes to repo-local scratch, reads back, and emits a result the
DuckDB oracle reproduces from the ORIGINAL table — proving the round trip
was lossless."""

from __future__ import annotations

import hashlib
import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, local_frame, scratch_dir
from ..numeric import cents_sum
from ..registry import query
from ..sources.readers_writers import (
    roundtrip_csv,
    roundtrip_json,
    roundtrip_orc,
    roundtrip_parquet,
    roundtrip_partitioned,
    roundtrip_text,
)


@query(
    "csv_roundtrip_nation",
    category="S2,S6",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink (header) → CSV source (explicit schema): int/string columns
    survive the text round trip exactly."""
    n = load(spark, sf_dir, "nation")
    return roundtrip_csv(n, spark, "csv_nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "json_roundtrip_region",
    category="S3",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def json_roundtrip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON sink → json source with explicit schema."""
    r = load(spark, sf_dir, "region")
    return roundtrip_json(r, spark, "json_region", sf_dir).select(
        "r_regionkey", "r_name"
    )


@query(
    "inline_values_source",
    category="S4",
    oracle="""
SELECT * FROM (VALUES ('view', 1, 0.5), ('purchase', 2, 2.0),
                      ('signup', 3, 1.0), ('error', 4, 0.0))
       AS t(event_type, priority, weight)
""",
)
def inline_values_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory source: literal rows through ``io.local_frame`` (Arrow
    path: a LocalTableScan, no Python worker task)."""
    return local_frame(
        spark,
        [("view", 1, 0.5), ("purchase", 2, 2.0), ("signup", 3, 1.0), ("error", 4, 0.0)],
        "event_type string, priority int, weight double",
    )


@query(
    "parquet_roundtrip_returns",
    category="S5",
    oracle="""
SELECT l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY l_linestatus ORDER BY l_linestatus
""",
)
def parquet_roundtrip_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink → source round trip on a filtered fact slice, then agg
    over the re-read data (binary-exact round trip)."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    back = roundtrip_parquet(li, spark, "parquet_returns", sf_dir)
    return (
        back.groupBy("l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy("l_linestatus")
    )


@query(
    "partitioned_sink_events",
    category="S7",
    oracle="""
SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, count(*) AS n
FROM events
GROUP BY event_type, strftime(ts, '%Y-%m-%d')
ORDER BY event_type, d
""",
)
def partitioned_sink_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink by event_type → re-read → per-partition daily
    counts. At scale the re-read scan prunes partitions by event_type; the
    partition column round-trips through the directory layout."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    back = roundtrip_partitioned(e, spark, "part_events", sf_dir, "event_type")
    return (
        back.groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "d")
    )


# --- schema evolution: mergeSchema over heterogeneous parquet batches ---------


@query(
    "merged_schema_scan",
    category="S1,S5",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN year(o_orderdate) >= 1995 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_priority,
       sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) / 100.0 AS total
FROM orders
""",
)
def merged_schema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: two parquet batches with different schemas
    (the newer one adds o_orderpriority) unified by mergeSchema=true.

    The canonical 100 TB ingest reality — columns appear over time and the
    reader must union footers instead of failing. Old-batch rows surface the
    new column as NULL; the oracle recomputes the same totals from the
    unsplit table. Merge cost is footer-only (no data rewrite), which is why
    this works at petabyte scale.
    """
    o = load(spark, sf_dir, "orders")
    out_dir = scratch_dir(
        "schema_evolution_" + hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    )
    marker = os.path.join(out_dir, "_READY")
    if not os.path.exists(marker):
        old = o.where(F.year("o_orderdate") < 1995).select("o_orderkey", "o_totalprice")
        new = o.where(F.year("o_orderdate") >= 1995).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        old.write.mode("overwrite").parquet(os.path.join(out_dir, "batch=old"))
        new.write.mode("overwrite").parquet(os.path.join(out_dir, "batch=new"))
        with open(marker, "w") as fh:
            fh.write("ok")
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_dir, "batch=old"), os.path.join(out_dir, "batch=new")
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority").isNotNull(), 1).otherwise(0)
        ).alias("n_with_priority"),
        cents_sum(F.col("o_totalprice")).alias("total"),
    )


@query(
    "orc_roundtrip_supplier",
    category="S5,E20",
    oracle="""
SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS bal
FROM supplier
""",
)
def orc_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC source: ints/strings/doubles survive the second
    columnar format losslessly (sources/readers_writers.py)."""
    s = load(spark, sf_dir, "supplier")
    return roundtrip_orc(s, spark, "orc_supplier", sf_dir).select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round("s_acctbal", 2).alias("bal"),
    )


@query(
    "text_source_doc_lines",
    category="S2,E20",
    oracle="""
SELECT text AS value, CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
)
def text_source_doc_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited text sink → text source: the raw-corpus ingestion path
    (one doc per line, schema-less `value` column). Lossless because the
    fixture corpus contains no newlines — which is exactly the invariant a
    real pipeline enforces (newline-escape) before using this format."""
    d = load(spark, sf_dir, "documents").select("text")
    rt = roundtrip_text(d, spark, "text_docs", sf_dir)
    return rt.select("value", F.length("value").cast("long").alias("n_chars"))


@query(
    "python_datasource_degrees",
    category="S4,E58",
    oracle="""
WITH edges AS (
  SELECT i AS edge_id, (i * 2654435761) % 1000 AS src,
         (i * 40503 + 7) % 1000 AS dst
  FROM range(20000) t(i)
)
SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg,
       CAST(count(DISTINCT dst) AS BIGINT) AS fanout
FROM edges
GROUP BY src
ORDER BY node
""",
)
def python_datasource_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree profile read through a CUSTOM Python DataSource
    (sources/python_datasource.py): Spark 4's extension point for
    formats/systems with no built-in connector.

    The source declares its own InputPartition list, so the scan fans out
    across executors like any native format; the generator is closed-form
    arithmetic, which is what lets a custom Python source be
    oracle-checked — DuckDB rebuilds the identical edge table from
    range(n). The aggregation on top is ordinary Catalyst planning; a
    custom source composes with everything else in the engine.
    """
    from ..sources.python_datasource import register

    register(spark)
    edges = (
        spark.read.format("synthedges")
        .option("n", 20000)
        .option("partitions", 8)
        .load()
    )
    return (
        edges.groupBy(F.col("src").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("out_deg"),
            F.count_distinct("dst").alias("fanout"),
        )
        .orderBy("node")
    )


_ticks_counter = itertools.count()


@query(
    "python_stream_source_ticks",
    category="S8,S4,E114",
    oracle="""
WITH ticks AS (
  SELECT i AS tick_id, i % 5 AS series,
         ((i * 2654435761) % 1000) / 10.0 AS value
  FROM range(5000) t(i)
)
SELECT series,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total,
       CAST(max(tick_id) AS BIGINT) AS last_tick
FROM ticks
GROUP BY series
ORDER BY series
""",
)
def python_stream_source_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python data source (Spark 4
    SimpleDataSourceStreamReader): a deterministic tick generator served
    through offset-tracked micro-batches into a complete-mode aggregation.

    The streaming half of E58's batch DataSource point: initialOffset /
    read(start) / readBetweenOffsets give Spark an exactly-once replayable
    cursor over a system it has no connector for (the readBetweenOffsets
    recovery path is why the generator must be a pure function of the
    offset — same property that makes it oracle-checkable from range()).
    The run drains TICK_TOTAL rows across 5 micro-batches on a tight
    processing-time trigger, then stops; complete mode makes the final
    sink table the full aggregate regardless of chunking. The simple
    reader serves batches driver-side — the partition-parallel
    DataSourceStreamReader is the scale variant; this surface is the
    offset-management contract.
    """
    import time as _time

    from ..sources.python_datasource import (
        TICK_TOTAL,
        register_streaming,
    )

    register_streaming(spark)
    sdf = spark.readStream.format("synthticks").load()
    agg = sdf.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        # Round-11 ×10 audit flag (5e4 magnitude): cents-exact sum; the
        # generator emits 1-decimal values so quantization is lossless.
        cents_sum("value").alias("total"),
        F.max("tick_id").alias("last_tick"),
    )
    name = f"sg_ticks_{next(_ticks_counter)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline:
            try:
                got = (
                    spark.table(name)
                    .agg(F.sum("n").alias("tot"))
                    .collect()[0]["tot"]
                )
            except Exception:
                got = None
            if got == TICK_TOTAL:
                break
            _time.sleep(0.2)
    finally:
        q.stop()
    return spark.table(name).orderBy("series")


# --- E207: reliable checkpoint mid-plan --------------------------------------


@query(
    "reliable_checkpoint_midplan",
    category="E207,S1",
    oracle="""
WITH agg AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY l_suppkey
)
SELECT a.l_suppkey,
       a.n, a.cents,
       CAST(a.cents - b.cents AS BIGINT) AS self_diff
FROM agg a JOIN agg b ON a.l_suppkey = b.l_suppkey
ORDER BY a.l_suppkey
""",
)
def reliable_checkpoint_midplan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELIABLE checkpoint (sc.setCheckpointDir + df.checkpoint) truncating
    lineage mid-pipeline: the per-supplier aggregate is checkpointed to
    disk, then consumed TWICE by a self-join — after the checkpoint the
    join reads the materialized files instead of recomputing the
    aggregate per branch, and the plan tree below the checkpoint is gone.

    localCheckpoint (used throughout the iterative operators) keeps blocks
    in executor storage — lost with an executor; the reliable variant
    survives executor loss, which is the difference that matters on a
    1000-node cluster where something is always dying. Semantics must be
    byte-identical either way: the oracle recomputes the plain self-join
    and self_diff pins the two branches equal (always 0).
    """
    # setCheckpointDir mutates session-global state; restoring the prior dir
    # isn't possible through the public API mid-plan (the checkpoint below is
    # eager, but the returned frame's lazy self-join re-reads the files), so
    # the dir deliberately stays set — it's a scratch path, harmless to
    # later checkpoints in the same session.
    spark.sparkContext.setCheckpointDir(scratch_dir("reliable_ckpt"))
    li = load(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    agg = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
        .checkpoint()  # eager: materializes to the reliable store
    )
    b = agg.select(
        F.col("l_suppkey").alias("bk"), F.col("cents").alias("b_cents")
    )
    out = (
        agg.join(b, agg.l_suppkey == b.bk)
        .select(
            "l_suppkey",
            "n",
            "cents",
            (F.col("cents") - F.col("b_cents")).alias("self_diff"),
        )
        .orderBy("l_suppkey")
    )
    # Restore any prior checkpoint dir conf state is not needed: the dir is
    # additive scratch; leaving it set does not alter other queries'
    # semantics (they call localCheckpoint explicitly).
    return out


# --- E208: CREATE TABLE AS SELECT (CTAS) round trip ---------------------------


@query(
    "ctas_roundtrip",
    category="E208,S5",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) / 100.0 AS total
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE AS SELECT through the SQL frontend: a filtered slice of
    orders materializes as a path-based parquet table in one statement
    (the catalog registers it, the files land at the LOCATION), then the
    aggregate reads the TABLE by name — the warehouse-native way to stage
    derived datasets, vs the programmatic df.write path (S5).

    Scale: CTAS is a write-then-register — the SELECT plans like any
    insert (full pushdown below the write); downstream reads get
    catalog statistics and partition discovery for free. The table is
    dropped and recreated per run (CREATE OR REPLACE semantics via DROP +
    CREATE) so the query is idempotent under driver re-runs.
    """
    from ..io import register_views

    import shutil

    register_views(spark, sf_dir)
    loc = scratch_dir(f"ctas_orders_{os.path.basename(os.path.normpath(sf_dir))}")
    spark.sql("DROP TABLE IF EXISTS sg_ctas_orders")
    # CTAS refuses a non-empty LOCATION (no silent overwrite); the rerun
    # contract here is clean-then-create.
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"""
        CREATE TABLE sg_ctas_orders
        USING PARQUET LOCATION '{loc}'
        AS SELECT o_orderkey, o_orderpriority, o_totalprice
           FROM orders WHERE o_orderstatus = 'F'
        """
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total
        FROM sg_ctas_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


# --- E209: write-side schema evolution (ALTER TABLE + backfill) ---------------


@query(
    "alter_table_schema_evolution",
    category="E209,S5",
    oracle="""
WITH old_rows AS (
  SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS tier
  FROM nation WHERE n_nationkey < 10
), new_rows AS (
  SELECT n_nationkey, n_name, CAST(n_nationkey % 3 AS INTEGER) AS tier
  FROM nation WHERE n_nationkey >= 10
), unioned AS (
  SELECT * FROM old_rows UNION ALL SELECT * FROM new_rows
)
SELECT coalesce(CAST(tier AS VARCHAR), 'pre-evolution') AS tier_label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM unioned
GROUP BY tier_label
ORDER BY tier_label
""",
)
def alter_table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side schema evolution: a catalog parquet table is created with
    the OLD schema, ALTER TABLE ADD COLUMNS widens it, new rows land with
    the new column, and one read serves both generations — old files
    surface NULL for the added column (parquet's missing-column contract),
    which downstream labels explicitly. The read-side complement
    (mergeSchema) is S1/E126; this is the catalog-managed write path a
    warehouse actually evolves through.

    Scale: ALTER TABLE is a metastore-only operation — zero data rewrite;
    the cost model of column ADD on parquet is O(1) regardless of table
    size, which is exactly why additive evolution is the sanctioned
    pattern (type CHANGES would rewrite everything).
    """
    import shutil

    from ..io import register_views

    register_views(spark, sf_dir)
    loc = scratch_dir(
        f"evolve_nation_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    spark.sql("DROP TABLE IF EXISTS sg_evolve_nation")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"""
        CREATE TABLE sg_evolve_nation
        USING PARQUET LOCATION '{loc}'
        AS SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10
        """
    )
    spark.sql("ALTER TABLE sg_evolve_nation ADD COLUMNS (tier INT)")
    spark.sql(
        """
        INSERT INTO sg_evolve_nation
        SELECT n_nationkey, n_name, CAST(n_nationkey % 3 AS INT) AS tier
        FROM nation WHERE n_nationkey >= 10
        """
    )
    return spark.sql(
        """
        SELECT coalesce(CAST(tier AS STRING), 'pre-evolution') AS tier_label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        FROM sg_evolve_nation
        GROUP BY tier_label
        ORDER BY tier_label
        """
    )


# --- E213: custom Python DataSource WRITER ------------------------------------


@query(
    "python_datasource_writer",
    category="E213,S4,S6",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (Spark 4 API, the write-side twin of
    S4's custom reader): the per-segment customer aggregate goes out
    through ``df.write.format("simplecsvsink")`` — each task stages a
    file and returns a WriterCommitMessage, the driver-side commit()
    publishes them atomically with a _SUCCESS manifest (abort() discards
    staged files on failure). The result is read back with the plain CSV
    reader and must hash-match the oracle's direct aggregate — proving
    the custom sink wrote exactly the rows it was handed.

    Scale: write() runs once per partition on executors (Arrow-batched
    rows in); the commit protocol is the same stage-then-publish shape
    production sinks use so speculative/failed tasks never publish.
    """
    import shutil

    from ..sources.python_datasource import SimpleCsvSink

    spark.dataSource.register(SimpleCsvSink)
    c = load(spark, sf_dir, "customer")
    agg = (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias(
                "bal_cents"
            ),
        )
    )
    path = scratch_dir(
        f"pyds_sink_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    agg.write.format("simplecsvsink").option("path", path).mode(
        "append"
    ).save()
    back = spark.read.csv(
        f"{path}/part-*.csv",
        schema="c_mktsegment string, n long, bal_cents long",
    )
    return back.orderBy("c_mktsegment")


# --- E215: mixed-format federation --------------------------------------------


@query(
    "mixed_format_federation",
    category="E215,S2,S3,S5",
    oracle="""
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
)
def mixed_format_federation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated union over three storage formats: the supplier table is
    split by key residue into parquet, CSV and JSON slices, read back with
    each format's reader, unioned into ONE plan, and aggregated — the
    heterogeneous-lake reality where history lives in parquet but edge
    feeds still arrive as text. The oracle aggregates the unsplit table:
    hash equality proves no format lost or coerced a row.

    Scale: each branch keeps its own pushdown capabilities (parquet
    prunes columns/pages; CSV/JSON scan fully — the measured reason
    columnar wins); the union is plan-level, not a materialization, so
    the three scans parallelize like any other leaves.
    """
    import shutil

    s = load(spark, sf_dir, "supplier")
    base = scratch_dir(
        f"federation_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    pq_dir, csv_dir, json_dir = (
        os.path.join(base, "pq"),
        os.path.join(base, "csv"),
        os.path.join(base, "json"),
    )
    cols = ["s_suppkey", "s_nationkey", "s_acctbal"]
    sel = s.select(*cols)
    sel.where(F.col("s_suppkey") % 3 == 0).write.mode("overwrite").parquet(pq_dir)
    sel.where(F.col("s_suppkey") % 3 == 1).write.mode("overwrite").csv(
        csv_dir, header=True
    )
    sel.where(F.col("s_suppkey") % 3 == 2).write.mode("overwrite").json(json_dir)

    schema = "s_suppkey long, s_nationkey long, s_acctbal double"
    parts = [
        spark.read.parquet(pq_dir),
        spark.read.csv(csv_dir, header=True, schema=schema),
        spark.read.json(json_dir, schema=schema),
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("s_acctbal") * 100).cast("bigint")).alias(
                "bal_cents"
            ),
        )
        .orderBy("s_nationkey")
    )
