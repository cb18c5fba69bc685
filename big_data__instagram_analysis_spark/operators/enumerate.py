"""Distributed stable global row enumeration (gid = 1..n by a sort key).

The naive forms both break at 100 TB:
  - ``row_number() OVER (ORDER BY k)`` funnels every row through ONE
    partition (a SinglePartition window) — the classic scale cliff;
  - ``monotonically_increasing_id()`` is partition-local bit-packing:
    ids are neither dense nor ordered by anything.

The scale-correct pattern implemented here: range-partition by the sort
key (partitions are non-overlapping and ordered by construction, whatever
boundaries the range sampler picks), count rows per partition (one tiny
aggregation), prefix-sum those counts driver-side into per-partition
offsets (|partitions| integers — trivially collectable at any scale), and
add each partition's offset to its LOCAL row_number. Every step is
parallel over partitions; nothing global ever materializes.

The ranged frame is localCheckpoint()ed so the count job and the
enumeration job see the SAME physical partitioning (repartitionByRange
samples boundaries per execution otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import local_frame


def global_row_numbers(
    df: DataFrame, order_cols: list[str], *, num_partitions: int = 8,
    gid_col: str = "gid",
) -> DataFrame:
    """Assign dense 1..n ids ordered by ``order_cols`` (must be a unique
    total order for a deterministic result)."""
    ranged = df.repartitionByRange(num_partitions, *order_cols).localCheckpoint()
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = local_frame(df.sparkSession, offsets, "_pid int, _offset bigint")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.join(F.broadcast(off_df), "_pid")
        .withColumn(gid_col, (F.col("_offset") + F.row_number().over(w)).cast("bigint"))
        .drop("_pid", "_offset")
    )
