"""File-replay streaming harness over the events fixture.

The fixture is one parquet file per table, but a stream source wants a
directory of files it can treat as arriving batches. ``events_stream``
materializes the events table (ts already normalized to µs by io.load, exact
nanos kept in ts_ns) into N scratch files once per (sf_dir, N), then returns
a ``readStream`` over that directory with an explicit schema — the file
source lists files and replays them as micro-batches.

``run_available_now`` executes a streaming DataFrame to completion with the
Trigger.AvailableNow semantics (process everything that exists, then stop)
into a uniquely-named in-memory sink table. With ``max_files_per_trigger``
set, replay happens over multiple micro-batches so watermarks and state
actually advance between batches — without it the whole directory is one
batch and stateful semantics degenerate to the batch case.

Determinism contract for oracle-checked streaming queries (SURVEY.md §5.3):
complete-mode aggregations and append-mode dedup are replay-order-independent
— their final sink contents equal the batch-twin result regardless of how
files are chunked into triggers. Only those shapes get SQL oracles; anything
watermark-dependent (late-data drop) is a rows-only/property check.
"""

from __future__ import annotations

import hashlib
import itertools
import os

from pyspark.sql import DataFrame, SparkSession

from ..io import load, scratch_dir

_sink_counter = itertools.count()

#: Progress log: every run_available_now appends one record per executed
#: StreamingQuery — {"sink", "batches", "state_operators": [the final
#: progress's stateOperators entries], "max_state_rows", "max_state_bytes",
#: "rows_dropped_by_watermark"}. Costs one recentProgress read per query;
#: consumed by tools/stream_state_metrics.py to prove state boundedness
#: quantitatively (VERDICT r6 #6). Reset with reset_progress_log().
PROGRESS_LOG: list[dict] = []


def reset_progress_log() -> None:
    PROGRESS_LOG.clear()


def _record_progress(sink_name: str, q) -> None:
    try:
        progresses = q.recentProgress or []
    except Exception:  # progress is diagnostics — never fail the query on it
        return
    state_rows = state_bytes = dropped = removed = 0
    final_ops: list[dict] = []
    trajectory: list[dict] = []
    for p in progresses:
        b_rows = b_removed = 0
        for op in p.get("stateOperators") or []:
            state_rows = max(state_rows, int(op.get("numRowsTotal") or 0))
            state_bytes = max(state_bytes, int(op.get("memoryUsedBytes") or 0))
            dropped += int(op.get("numRowsDroppedByWatermark") or 0)
            removed += int(op.get("numRowsRemoved") or 0)
            b_rows += int(op.get("numRowsTotal") or 0)
            b_removed += int(op.get("numRowsRemoved") or 0)
        trajectory.append({"rows_total": b_rows, "rows_removed": b_removed})
    if progresses:
        final_ops = [
            {
                "operatorName": op.get("operatorName"),
                "numRowsTotal": op.get("numRowsTotal"),
                "memoryUsedBytes": op.get("memoryUsedBytes"),
                "numRowsDroppedByWatermark": op.get("numRowsDroppedByWatermark"),
                "numRowsRemoved": op.get("numRowsRemoved"),
            }
            for op in progresses[-1].get("stateOperators") or []
        ]
    PROGRESS_LOG.append(
        {
            "sink": sink_name,
            "batches": len(progresses),
            "max_state_rows": state_rows,
            "max_state_bytes": state_bytes,
            "rows_dropped_by_watermark": dropped,
            # eviction evidence (VERDICT r7 task #3): total rows the state
            # store REMOVED as the watermark passed them, plus the per-batch
            # state-size trajectory so decay from the high-water is visible.
            "rows_removed_total": removed,
            "state_rows_trajectory": trajectory,
            "state_operators_final": final_ops,
        }
    )


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_files: int = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the events table, replayed from n_files scratch files.

    ``max_files_per_trigger`` (a *source* option) chunks the replay into
    multiple micro-batches so watermarks/state advance between triggers.
    """
    key = hashlib.sha256(f"{os.path.abspath(sf_dir)}|{n_files}".encode()).hexdigest()[:12]
    replay_dir = scratch_dir(f"stream_events_{key}")
    marker = os.path.join(replay_dir, "_SPARK_GRAFT_READY")
    if not os.path.exists(marker):
        batch = load(spark, sf_dir, "events")
        batch.repartition(n_files).write.mode("overwrite").parquet(replay_dir)
        with open(marker, "w") as fh:
            fh.write("ok")
    schema = load(spark, sf_dir, "events").schema
    reader = spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(replay_dir)


def evict_replay_dir(
    spark: SparkSession, sf_dir: str, *, n_base_files: int = 1
) -> str:
    """Events replay dir extended with two far-future sentinel batches —
    the replay that makes watermark EVICTION observable inside a declared
    query (VERDICT r8 task #4; previously only tools/stream_state_metrics
    built this shape).

    Layout: the base events table in ``n_base_files`` part files, then two
    sentinel part files at max(ts)+30d and +60d, each holding one 'view'
    row (user_id −1) and one 'purchase' row (user_id −2) — IMPOSSIBLE user
    ids, so sentinels can never join with real data or each other and an
    inner-join sink stays equal to the batch join over the real events.
    mtimes are stamped ONCE from a single captured timestamp AFTER all
    writes (base = t−600, sentinels = t−300 / t−180 — ADVICE r8: in-loop
    re-stamping made base-vs-sentinel ordering depend on write duration),
    so the mtime-ordered file source delivers base → +30d → +60d.

    With ``n_base_files=1`` and maxFilesPerTrigger=1 the whole base lands
    in micro-batch 1 — nothing is ever late (zero dropped-by-watermark),
    the +30d batch advances the watermark past every buffered row (state
    eviction fires), and the +60d batch gives the store a turn after the
    advance. That makes a PRODUCTION-watermark streaming query
    deterministic AND oracle-checkable while its state demonstrably
    evicts. Keyed + marker-guarded: built once per (sf_dir, n_base_files).
    """
    from pyspark.sql import functions as F

    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|evict|{n_base_files}".encode()
    ).hexdigest()[:12]
    edir = scratch_dir(f"stream_evict_{key}")
    marker = os.path.join(edir, "_SPARK_GRAFT_READY")
    if not os.path.exists(marker):
        import glob
        import time

        batch = load(spark, sf_dir, "events")
        batch.repartition(n_base_files).write.mode("overwrite").parquet(edir)
        base_parts = sorted(glob.glob(os.path.join(edir, "part-*.parquet")))
        mx = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
        seen = set(base_parts)
        sentinel_parts: dict[int, list[str]] = {}
        for days in (30, 60):
            # orderBy before limit: a deterministic template row, so the
            # replay bytes don't depend on scan order across rebuilds.
            one = batch.orderBy("event_id").limit(1)
            rows = []
            for uid, etype in ((-1, "view"), (-2, "purchase")):
                rows.append(
                    one.withColumn("event_id", F.lit(-(days * 10 + abs(uid))))
                    .withColumn("user_id", F.lit(uid))
                    .withColumn("event_type", F.lit(etype))
                    .withColumn("ts", F.lit(mx) + F.expr(f"INTERVAL {days} DAYS"))
                )
            sent = rows[0].unionByName(rows[1])
            if "ts_ns" in batch.columns:
                sent = sent.withColumn("ts_ns", F.unix_micros(F.col("ts")) * 1000)
            sent.select(*batch.columns).coalesce(1).write.mode("append").parquet(edir)
            new = sorted(set(glob.glob(os.path.join(edir, "part-*.parquet"))) - seen)
            seen.update(new)
            sentinel_parts[days] = new
        t = time.time()
        for p in base_parts:
            os.utime(p, (t - 600, t - 600))
        for days, tt in ((30, t - 300), (60, t - 180)):
            for p in sentinel_parts[days]:
                os.utime(p, (tt, tt))
        with open(marker, "w") as fh:
            fh.write("ok")
    return edir


def evict_events_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_base_files: int = 1,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """readStream over :func:`evict_replay_dir` — one file per trigger, so
    the replay is base batch(es) → +30d sentinel → +60d sentinel."""
    edir = evict_replay_dir(spark, sf_dir, n_base_files=n_base_files)
    schema = load(spark, sf_dir, "events").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(edir)
    )


def run_available_now(
    sdf: DataFrame,
    *,
    output_mode: str,
    timeout_s: int = 120,
) -> DataFrame:
    """Run a streaming DF to a memory sink until no input remains; return it.

    Memory sink is driver-local — correct here because every streaming query
    in the declared surface ends in an aggregation/dedup whose result is
    small; a production sink would be S7's partitioned parquet writer.
    """
    name = f"sg_sink_{next(_sink_counter)}"
    writer = sdf.writeStream.format("memory").queryName(name).outputMode(output_mode)
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination(timeout_s)
    finally:
        _record_progress(name, q)
        q.stop()
    # r13 (VERDICT r12 #6, guide §1.4/§5) — sink-accumulation lever MEASURED
    # AND DECLINED: a localCheckpoint-then-dropTempView variant (pin the
    # final rows, free the catalog entry) was pass-level ABAB'd over the
    # full 19-query stream tail in one session
    # (`git show e396564:tools/ab_sink_drop_r13.py`):
    # old min 67.8 s vs variant 68.8 s (+1.5%, means 70.3 vs 73.3). The
    # accumulated sink tables are post-aggregation small, so the r12
    # "memory-sink accumulation" spike hypothesis does not reproduce — the
    # variant's one extra checkpoint job per query costs more than the
    # accumulation it frees. Kept: the plain memory-sink read.
    return sdf.sparkSession.table(name)
