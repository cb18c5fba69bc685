"""Fixture table loaders and temp-view registration.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file each under
``{sf_dir}/{name}.parquet``.

Load is a plain columnar parquet scan: Catalyst handles column pruning and
predicate pushdown into the scan, so query code never pre-projects "for
performance" — it states the full plan declaratively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any plausible scale factor.
BROADCAST_DIMS = ("region", "nation", "supplier")

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (schema-on-read from the parquet footer).

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    across fixture generations, so the loader adapts to the footer:

    - NANOS: Spark 4 rejects it outright (PARQUET_TYPE_ILLEGAL), so we read
      via the legacy nanos-as-long path (int64 epoch-nanos) and rebuild
      ``ts`` as a µs-precision timestamp. ``ts DIV 1000`` truncates toward
      zero, which equals floor only for post-epoch instants — fine for the
      2024-era fixtures; pre-epoch (negative) nanos would need FLOOR
      semantics.
    - MICROS (tz-naive → TIMESTAMP_NTZ under the pinned inference conf): read
      directly; the NTZ→TIMESTAMP cast is exact because the session timezone
      is pinned UTC. ``load()`` pins that conf itself (defensively, in
      addition to session.tune()) so direct callers on an untuned session
      still get timezone-correct instants.

    Either way callers see the same schema: ``ts`` (µs TimestampType) plus
    ``ts_ns`` keeping exact int64 epoch-nanos for queries that need
    timezone-free integer time arithmetic to match DuckDB's ``epoch_ns``.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Correctness of the NTZ→TIMESTAMP cast below requires a UTC session
        # timezone regardless of which code path reached load().
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        is_nanos = False
        try:
            raw = spark.read.parquet(table_path(sf_dir, name))
            is_nanos = raw.schema["ts"].dataType.simpleString() == "bigint"
        finally:
            # Don't leave nanos-as-long enabled session-wide on the MICROS or
            # error path (missing/corrupt file) — it would silently turn any
            # later nanos-annotated int64 column into bigint instead of
            # erroring. The NANOS branch keeps it set: the scan re-reads the
            # conf at execution time, after this function returns.
            if not is_nanos:
                if prior_nanos is None:
                    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
                else:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)
        if is_nanos:
            return raw.select(
                "event_id",
                F.expr("timestamp_micros(ts DIV 1000)").alias("ts"),
                F.col("ts").alias("ts_ns"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        return raw.select(
            "event_id",
            F.expr("CAST(ts AS TIMESTAMP)").alias("ts"),
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)").alias(
                "ts_ns"
            ),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    return spark.read.parquet(table_path(sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql entry)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held rows that plans as a ``LocalTableScan``.

    ``spark.createDataFrame(list_of_tuples, ddl)`` pickles the rows into a
    ``parallelize``: executing that frame runs ``defaultParallelism`` Python
    worker tasks, each paying the worker's fixed per-task start-up (≈0.2 s
    of CPU on a 4-vCPU box, PERF.md §76) although no Python code runs in
    them. A ``pyarrow.Table`` takes PySpark's Arrow path whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says, and below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by default)
    the JVM turns it into a ``LocalRelation``: no Python worker runs, and
    the planner sees the frame's exact size.

    ``rows`` is a sequence of tuples in ``schema`` order; ``schema`` is a
    DDL string or a ``StructType`` (its nullability flags are kept). This
    is the package's only ``createDataFrame`` call (tests/test_local_frame.py).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def bounded_collect(df: DataFrame, max_rows: int):
    """``df`` as a pandas frame if it has at most ``max_rows`` rows, else None.

    The size probe and the collect are one ``limit(max_rows + 1)`` action:
    it either proves the frame exceeds the bound or already IS the whole
    frame, where a ``count()``-then-``toPandas()`` pair would run a job each
    for the same answer. It is a JVM → driver collect (Arrow when
    ``spark.sql.execution.arrow.pyspark.enabled``) and starts no Python
    worker. Driver memory stays bounded by ``max_rows + 1`` rows either way.
    The action is one Spark job when the frame has one partition or its
    first partition alone exceeds the bound; otherwise ``CollectLimit``
    reads further partitions in scaled-up follow-on jobs until it has
    enough rows.

    The trade-off, accepted: above the bound this ships ``max_rows + 1``
    rows to the driver instead of a count's single row, but ``CollectLimit``
    stops reading partitions once it has them, while a count aggregates
    every partition; the bounded transfer is noise next to the distributed
    work the caller then runs. The callers (the local finishes of
    ``operators/graph.connected_components`` and
    ``operators/clustering.kmeans_lloyd``) bound ``max_rows`` to a few MB
    to a few tens of MB.
    """
    pdf = df.limit(max_rows + 1).toPandas()
    return pdf if len(pdf) <= max_rows else None


def scratch_dir(sub: str = "") -> str:
    """Writable scratch under the repo (we must not touch paths outside it)."""
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
    path = os.path.join(base, sub) if sub else base
    os.makedirs(path, exist_ok=True)
    return path
