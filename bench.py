#!/usr/bin/env python
"""Bench harness: headline + LLM query sets, each in a FRESH JVM, with
ABAB-paired floor/wall measurement.

Protocol history (BASELINE.md §3):
  r1-r5  one warm session; interleaved sequential reps.
  r6     PROTOCOL BREAK: per-query back-to-back reps (matches the DuckDB
         baseline's cold-then-warm protocol; interleaved read 25-40%
         higher — PERF.md §40).
  r7     llm_set reps ≥3 with mean/stdev; measured LLM DuckDB baseline
         (LLM_BASELINE.json) + llm floor decomposition.
  r9     PROTOCOL BREAK ×2 (VERDICT r8 tasks #1/#2):
         (a) fresh JVM per set — the headline set and the LLM set each
             run in their own subprocess (own Spark JVM). PERF.md §51/§52
             measured the same minhash plan reading ~20-40% slower after
             ~10 min of in-JVM churn (JIT/code-cache aging, plan causes
             eliminated; attribution in JVM_AGE_AB.json). One warm JVM
             per set measures the PLAN, not the session's history.
         (b) ABAB floor/wall pairing — every rep measures the query's
             1-row-input floor run and its sf-input wall run
             back-to-back, and datapath is computed from PAIRED
             differences: dp_q = min over reps of (wall_i − floor_i).
             r8's floor was a separate pass hours apart from the walls,
             so machine drift between passes could not cancel (the
             1.375×→1.627× r7→r8 drift rode exactly that gap — floor
             rose 0.78→1.12 s in lockstep with every wall). Paired
             differences are drift-immune by construction; per-rep pairs
             are emitted in BENCH_DETAIL.json so the claim is auditable.

Floor semantics (unchanged since r5): each query's identical plan runs on
1-ROW copies of its input tables (same schemas, byte-preserved logical
types). Wall at data→0 is the data-size-invariant overhead (scheduling,
planning, task launch, Py4J/Arrow chatter) — cost a 100 TB run amortizes
to ~0 and an in-process DB never pays. 1-row runs plan lighter if
anything, so floor is a LOWER bound and datapath an UPPER bound on data
work — the skeptic-safe direction.

Per-query DuckDB baselines are loaded from checked-in artifacts
(HEADLINE_BASELINE.json, LLM_BASELINE.json — ADVICE r8: no hardcoded
literals, so a re-measurement of BASELINE.md §2 updates the ratios by
updating one file). dp_gt2 flags queries whose paired datapath exceeds
2× their DuckDB time AND whose absolute excess clears the session's
measured scheduling floor (empty-job + 1-row-shuffle walls, min 50 ms) —
VERDICT r11 #6: several headline denominators are 4-11 ms, below Spark's
~25-60 ms per-job scheduling floor, so a ratio alone flagged verified-clean
plans. dp_excess carries the ABSOLUTE excess seconds for each flag;
dp_excess_all_sec in BENCH_DETAIL.json keeps the raw excess for every >2×
ratio so the calibration hides nothing.

Prints ONE COMPACT JSON line (<1.9 KB — the driver keeps the last 2000
chars of stdout and json-parses the final line); the complete
decomposition (per-rep pairs, means/stdevs, concurrent runs, floor
objects) goes to BENCH_DETAIL.json beside this script.

`value` and `queries` report min over reps — the standard systems-bench
convention for isolating the code's cost from scheduler jitter.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_REPS (default 5), SPARK_GRAFT_BENCH_CONC_REPS (3),
     SPARK_GRAFT_BENCH_LLM_REPS (default 3, 0 disables the llm_set pass).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

PHASE_DIR = os.path.join(REPO_ROOT, "spark-warehouse", "bench_phases")


def _build_floor_tables(sf_dir: str, floor_dir: str) -> None:
    """Write a 1-row copy of every fixture table, byte-preserving schemas.

    pyarrow slice + write keeps the parquet logical types exactly (incl.
    events' TIMESTAMP(NANOS), which io.load special-cases), so the floor
    run exercises the identical load path. Idempotent per bench process;
    ~10 KB total, under the gitignored spark-warehouse/.
    """
    import pyarrow.parquet as pq

    os.makedirs(floor_dir, exist_ok=True)
    for fn in os.listdir(sf_dir):
        if not fn.endswith(".parquet"):
            continue
        dst = os.path.join(floor_dir, fn)
        t = pq.read_table(os.path.join(sf_dir, fn))
        pq.write_table(t.slice(0, 1), dst, store_schema=True)


def _load_baseline(path: str, expect_sf_dir: str) -> dict | None:
    """Load a checked-in DuckDB baseline artifact; None if absent/mismatched."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        b = json.load(f)
    if b.get("sf_dir") != expect_sf_dir:
        return None
    return b


def _summarize(samples: dict[str, list[float]]) -> tuple[dict, dict, dict]:
    mins = {n: round(min(s), 4) for n, s in samples.items()}
    means = {n: round(statistics.fmean(s), 4) for n, s in samples.items()}
    stdevs = {
        n: round(statistics.stdev(s), 4) if len(s) > 1 else 0.0
        for n, s in samples.items()
    }
    return mins, means, stdevs


def _paired_reps(
    spark, specs, names, sf_dir: str, floor_dir: str, n_reps: int, tracker=None
) -> tuple[dict, dict, dict, dict, dict]:
    """ABAB core: per query per rep, floor run then wall run back-to-back.

    Returns (pairs, wall_samples, floor_samples, per_query_jobs,
    per_query_stages). GC (driver + JVM) runs before each rep, outside the
    timed regions — localCheckpoint blocks from preceding queries are only
    released by the ContextCleaner after driver-side GC, and their
    accumulation measurably polluted later queries within a run (minhash
    2.3 ↔ 3.1 s at sf0.1 depending on dead storage — PERF.md §45/§51).
    Every rep executes a fresh DataFrame instance (same logical plan, new
    lineage — no stage reuse via still-registered shuffle outputs).
    """
    import gc

    def gc_both() -> None:
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    pairs: dict[str, list[list[float]]] = {n: [] for n in names}
    wall_samples: dict[str, list[float]] = {n: [] for n in names}
    floor_samples: dict[str, list[float]] = {n: [] for n in names}
    per_query_jobs: dict[str, int] = {}
    per_query_stages: dict[str, int] = {}
    for name in names:
        for rep in range(n_reps):
            gc_both()
            f_df = specs[name].fn(spark, floor_dir)
            t0 = time.perf_counter()
            f_df.toPandas()
            f_sec = time.perf_counter() - t0
            w_df = specs[name].fn(spark, sf_dir)
            jobs_before = (
                set(tracker.getJobIdsForGroup(None) or [])
                if tracker is not None and rep == 0
                else None
            )
            t0 = time.perf_counter()
            w_df.toPandas()
            w_sec = time.perf_counter() - t0
            pairs[name].append([round(f_sec, 4), round(w_sec, 4)])
            floor_samples[name].append(f_sec)
            wall_samples[name].append(w_sec)
            if jobs_before is not None:
                new_jobs = set(tracker.getJobIdsForGroup(None) or []) - jobs_before
                per_query_jobs[name] = len(new_jobs)
                stages = 0
                for j in new_jobs:
                    ji = tracker.getJobInfo(j)
                    stages += len(ji.stageIds) if ji is not None else 0
                per_query_stages[name] = stages
    return pairs, wall_samples, floor_samples, per_query_jobs, per_query_stages


def _paired_dp(pairs: dict[str, list[list[float]]]) -> dict[str, float]:
    """Per-query datapath from paired differences: min over reps of
    (wall − floor), clamped at 0 (floor runs on different data, so a
    noise-dominated pair could otherwise read negative — ADVICE r7)."""
    return {
        n: round(max(0.0, min(w - f for f, w in ps)), 4) for n, ps in pairs.items()
    }


def _dp_ratios(dp: dict, baselines: dict) -> dict[str, float]:
    return {
        n: round(dp[n] / b, 3) for n, b in baselines.items() if n in dp and b > 0
    }


def _get_session(app: str):
    from big_data__instagram_analysis_spark.session import (
        enable_bench_tuning,
        get_spark,
    )

    # Small-file scan parallelism + low shuffle fan-out for the MB-scale
    # bench tier (see session.enable_bench_tuning docstring — not the
    # 100 TB confs).
    enable_bench_tuning()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_headline_phase(sf_dir: str, out_path: str) -> None:
    """Headline 10-query set in THIS process's (fresh) JVM."""
    from big_data__instagram_analysis_spark.registry import get_specs

    specs = get_specs()
    names = [
        n
        for n, s in sorted(specs.items())
        if "bench" in s.tags or "flagship" in s.tags
    ]
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    n_conc = int(os.environ.get("SPARK_GRAFT_BENCH_CONC_REPS", "3"))

    spark = _get_session("iga-bench-headline")
    tracker = spark.sparkContext.statusTracker()
    floor_dir = os.path.join(REPO_ROOT, "spark-warehouse", "bench_floor_tables")
    _build_floor_tables(sf_dir, floor_dir)

    # Warm-up: fresh DataFrame instances per pass (JIT/codegen caches,
    # broadcast hydration, FS cache). Two+ passes: C2-tier JIT of the hot
    # codegen'd loops needs more than one execution to reach the steady
    # state the BASELINE's "warm" (second-run) DuckDB numbers represent.
    # Both plan shapes (sf + 1-row floor) are warmed so the ABAB pairs
    # below compare two equally-warm plans.
    for _ in range(3):
        for name in names:
            specs[name].fn(spark, sf_dir).toPandas()

    # Whole-set wall (the BENCH `value`): the query set submitted
    # concurrently to the warm scheduler (fresh DataFrame instances — no
    # stage reuse). At bench tier each job's stages are sub-core-count
    # wide, so sequential submission leaves the 32-way executor mostly
    # idle between stages and the whole-set number degenerates into 10×
    # per-job scheduling latency; concurrent submission is Spark's
    # designed multi-tenancy path and measures set THROUGHPUT the way
    # BASELINE.md §2 frames DuckDB's "whole-set ≈ 9 q/s". Measured HERE,
    # on the warm but UN-CHURNED JVM, before the ABAB floor reps. In r9 this pass sat
    # after 5 warm-up passes + 5×10 ABAB reps + 50 System.gc() calls and
    # collapsed 0.755 s → 4.06 s with in-pass degradation 4.06→8.5→8.3 s
    # (VERDICT r9 #2). Set throughput is a steady-state property — it
    # must not inherit the floor-measurement machinery's JVM wear. A
    # 1-rep probe of the same pass re-runs AFTER the ABAB block
    # (concurrent_post_churn_sec) so the wear stays measured and
    # attributable instead of hidden. GC runs between reps, outside the
    # timed region, and each rep builds fresh DataFrame instances.
    import gc
    import threading

    def _concurrent_rep() -> float:
        dfs_conc = {name: specs[name].fn(spark, sf_dir) for name in names}
        threads = [
            threading.Thread(target=df.toPandas) for df in dfs_conc.values()
        ]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return round(time.perf_counter() - t0, 4)

    conc_runs: list[float] = []
    for _ in range(n_conc):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        conc_runs.append(_concurrent_rep())

    for _ in range(2):
        for name in names:
            specs[name].fn(spark, floor_dir).toPandas()

    pairs, wall_samples, floor_samples, per_query_jobs, per_query_stages = (
        _paired_reps(spark, specs, names, sf_dir, floor_dir, n_reps, tracker)
    )
    timings, timings_mean, timings_stdev = _summarize(wall_samples)
    per_query_floor, _, _ = _summarize(floor_samples)
    dp = _paired_dp(pairs)

    # Reference primitives (cross-round comparability of raw scheduler
    # latency; not part of the floor arithmetic).
    def _min_wall(fn, n=8):
        ts = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return min(ts)

    empty_job = _min_wall(lambda: spark.range(1).toPandas())
    shuffle_1row = _min_wall(lambda: spark.range(1).groupBy("id").count().toPandas())

    # Parallelism-sensitive probe (VERDICT r12 #1): a fixed 32-partition
    # CPU-bound stage (codegen'd xxhash64 chain, no input data, no Python)
    # whose wall scales with the executor's core count. At sf0.1 every
    # headline query is scheduling-latency-bound (0.1-0.45 s walls on a
    # ~1 s floor), so the driver's 8-core/32-core ratios come out ~1 and
    # cannot distinguish "SPARK_GRAFT_CPUS honored but saturated" from
    # "ignored". This probe CAN scale: 512M rows x 8 chained hashes over 32
    # partitions is pure compute (idle calibration on this box: 2.98 s at
    # local[8] vs 1.01 s at local[32] — ratio 2.96 against a 4x core
    # ratio; the residual is all-core frequency behavior, not scheduling).
    # A FRESH DataFrame per rep — re-running one instance would reuse the
    # map stage's registered shuffle output and time only the 1-row final
    # stage.
    def _probe_df():
        e = "id"
        for _ in range(8):
            e = f"xxhash64({e})"
        return spark.range(0, 32 * 16_000_000, 1, 32).selectExpr(
            f"bit_xor({e}) as x"
        )

    _probe_df().toPandas()  # warm the codegen path
    probe_runs = []
    for _ in range(3):
        df = _probe_df()
        t0 = time.perf_counter()
        df.toPandas()
        probe_runs.append(round(time.perf_counter() - t0, 4))
    parallel_probe = min(probe_runs)

    # Post-churn probe: the SAME concurrent pass re-run after the ABAB
    # block at the SAME rep count as the pre-churn pass (ADVICE r10: equal
    # rep counts make the two regimes like-for-like), so the JVM-wear
    # delta (VERDICT r9 #2's 4.06→8.5 s signature) is an in-artifact
    # number every round instead of an undisclosed collapse. The headline
    # `value` stays the UN-CHURNED regime (definition changed r9→r10 and
    # is flagged in PERF §56/§61 wherever cross-round walls are compared).
    conc_post_runs: list[float] = []
    for _ in range(n_conc):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        conc_post_runs.append(_concurrent_rep())
    conc_post = min(conc_post_runs)

    phase = {
        "queries": timings,
        "queries_mean": timings_mean,
        "queries_stdev": timings_stdev,
        "pairs": pairs,
        "per_query_floor": per_query_floor,
        "per_query_dp": dp,
        "per_query_jobs": per_query_jobs,
        "per_query_stages": per_query_stages,
        "empty_job_sec": round(empty_job, 4),
        "shuffle_1row_sec": round(shuffle_1row, 4),
        "parallel_probe_sec": round(parallel_probe, 4),
        "parallel_probe_runs": probe_runs,
        "cpus_env": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "concurrent_runs": conc_runs,
        "concurrent_post_churn_sec": conc_post,
        "concurrent_post_churn_runs": conc_post_runs,
        "reps": n_reps,
    }
    with open(out_path, "w") as f:
        json.dump(phase, f)
    spark.stop()


def run_llm_phase(sf_dir: str, out_path: str) -> None:
    """LLM heavy-tail set (tag llm_bench) in THIS process's (fresh) JVM.

    Fresh-JVM isolation is the point (VERDICT r8 task #1): PERF.md §51
    measured minhash_lsh_neardup's datapath at ≈1.7-2.0× fresh vs
    ≈2.2-2.4× after the headline set aged the JVM; JVM_AGE_AB.json is the
    controlled confirmation. Reps are interleaved across queries (q1..q7,
    repeat) WITH the per-query ABAB floor pairing, and each DataFrame is
    built just-in-time and dropped so no predecessor's localCheckpoint
    blocks stay reachable across a rep (PERF.md §51).
    """
    from big_data__instagram_analysis_spark.registry import get_specs

    specs = get_specs()
    names = [n for n, s in sorted(specs.items()) if "llm_bench" in s.tags]
    n_llm = int(os.environ.get("SPARK_GRAFT_BENCH_LLM_REPS", "3"))
    if n_llm <= 0 or not names:
        with open(out_path, "w") as f:
            json.dump({}, f)
        return

    spark = _get_session("iga-bench-llm")
    floor_dir = os.path.join(REPO_ROOT, "spark-warehouse", "bench_floor_tables")
    _build_floor_tables(sf_dir, floor_dir)

    import gc

    def gc_both() -> None:
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    for _ in range(2):  # warm both plan shapes
        for name in names:
            specs[name].fn(spark, sf_dir).toPandas()
            specs[name].fn(spark, floor_dir).toPandas()

    pairs: dict[str, list[list[float]]] = {n: [] for n in names}
    wall_samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(n_llm):
        for name in names:
            gc_both()
            f_df = specs[name].fn(spark, floor_dir)
            t0 = time.perf_counter()
            f_df.toPandas()
            f_sec = time.perf_counter() - t0
            del f_df
            w_df = specs[name].fn(spark, sf_dir)
            t0 = time.perf_counter()
            w_df.toPandas()
            w_sec = time.perf_counter() - t0
            del w_df
            pairs[name].append([round(f_sec, 4), round(w_sec, 4)])
            wall_samples[name].append(w_sec)

    llm_q, llm_mean, llm_stdev = _summarize(wall_samples)
    llm_floor = {n: round(min(f for f, _ in ps), 4) for n, ps in pairs.items()}
    dp = _paired_dp(pairs)
    phase = {
        "queries": llm_q,
        "queries_mean": llm_mean,
        "queries_stdev": llm_stdev,
        "pairs": pairs,
        "per_query_floor": llm_floor,
        "per_query_dp": dp,
        "reps": n_llm,
    }
    with open(out_path, "w") as f:
        json.dump(phase, f)
    spark.stop()


def orchestrate() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    os.makedirs(PHASE_DIR, exist_ok=True)
    phase_paths = {}
    for phase in ("headline", "llm"):
        out = os.path.join(PHASE_DIR, f"{phase}.json")
        phase_paths[phase] = out
        if os.path.exists(out):
            os.remove(out)
        # Child stdout → parent stderr: Spark progress/log chatter must not
        # pollute the driver-parsed stdout tail; the phase result travels
        # via the JSON file.
        rc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--phase", phase, "--out", out],
            stdout=sys.stderr,
            cwd=REPO_ROOT,
        ).returncode
        if rc != 0:
            raise SystemExit(f"bench phase {phase} failed rc={rc}")

    with open(phase_paths["headline"]) as f:
        hd = json.load(f)
    with open(phase_paths["llm"]) as f:
        lm = json.load(f)

    timings = hd["queries"]
    sequential = round(sum(timings.values()), 4)
    concurrent = min(hd["concurrent_runs"])
    # Scaling-evidence contract (VERDICT r12 #1): the CPU-bound probe rides
    # in `queries` (an ADDED entry — nothing removed/renamed) so the
    # driver's low-core/high-core scaling block has one entry that CAN
    # scale at sf0.1; sequential/concurrent walls keep their historical
    # 10-query definition (computed above, before the injection).
    timings = dict(timings)
    timings["parallel_probe"] = hd["parallel_probe_sec"]
    floor_sec = round(sum(hd["per_query_floor"].values()), 4)
    datapath = round(sum(hd["per_query_dp"].values()), 4)

    hb = _load_baseline(os.path.join(REPO_ROOT, "HEADLINE_BASELINE.json"), sf_dir)
    duckdb_baseline = hb["value"] if hb else None
    headline_dp_ratio = (
        _dp_ratios(hd["per_query_dp"], hb["queries"]) if hb else {}
    )

    floor = {
        "method": (
            "ABAB-paired per rep: each rep times the query's 1-row-table "
            "floor run then its sf run back-to-back (same warm session); "
            "datapath = sum over queries of min paired (wall − floor)"
        ),
        "empty_job_sec": hd["empty_job_sec"],
        "shuffle_1row_sec": hd["shuffle_1row_sec"],
        "per_query_floor": hd["per_query_floor"],
        "per_query_dp": hd["per_query_dp"],
        "per_rep_pairs": hd["pairs"],
        "per_query_jobs": hd["per_query_jobs"],
        "per_query_stages": hd["per_query_stages"],
        "total_jobs": sum(hd["per_query_jobs"].values()),
        "total_stages": sum(hd["per_query_stages"].values()),
        "floor_sec": floor_sec,
        "datapath_sec": datapath,
        "duckdb_baseline_sec": duckdb_baseline,
        "datapath_vs_duckdb": (
            round(datapath / duckdb_baseline, 3) if duckdb_baseline else None
        ),
        "per_query_duckdb_sec": hb["queries"] if hb else {},
        "per_query_dp_ratio": headline_dp_ratio,
        "per_query_dp_note": (
            "ratios divide by 4-260 ms DuckDB per-query times, so sub-0.1 s "
            "floor noise can read as a large ratio (VERDICT r3/r7: "
            "denominator artifacts; the 2x bar rides the set-level "
            "datapath_vs_duckdb). dp_gt2 carries dp_excess (absolute excess "
            "seconds) so each flag is judgeable in-artifact."
        ),
        "note": (
            "floor = the query's min wall with every input table replaced "
            "by a 1-row copy: the measured data-size-invariant cost "
            "(scheduling, planning, task launch, Py4J/Arrow chatter) of the "
            "exact same plan, which a 100 TB run amortizes to ~0 and an "
            "in-process DB never pays. Pairing makes the subtraction "
            "machine-drift-immune (r9 protocol, VERDICT r8 task #2). 1-row "
            "runs plan lighter if anything, so floor is a LOWER bound and "
            "datapath an UPPER bound on data work."
        ),
    }

    llm_out: dict = {}
    if lm:
        llm_wall = round(sum(lm["queries"].values()), 4)
        llm_floor_sec = round(sum(lm["per_query_floor"].values()), 4)
        llm_dp = round(sum(lm["per_query_dp"].values()), 4)
        llm_out = {
            "wall_sec": llm_wall,
            "queries": lm["queries"],
            "queries_mean": lm["queries_mean"],
            "queries_stdev": lm["queries_stdev"],
            "per_rep_pairs": lm["pairs"],
            "reps": lm["reps"],
            "floor_sec": llm_floor_sec,
            "per_query_floor": lm["per_query_floor"],
            "per_query_dp": lm["per_query_dp"],
            "datapath_sec": llm_dp,
            "fresh_jvm": True,
        }
        lb = _load_baseline(os.path.join(REPO_ROOT, "LLM_BASELINE.json"), sf_dir)
        if lb and set(lb.get("queries", {})) == set(lm["queries"]):
            llm_out["duckdb_baseline_sec"] = lb["value"]
            llm_out["datapath_vs_duckdb"] = round(llm_dp / lb["value"], 3)
            llm_out["per_query_duckdb_sec"] = lb["queries"]
            llm_out["per_query_dp_ratio"] = _dp_ratios(
                lm["per_query_dp"], lb["queries"]
            )

    # Set-level per-rep (floor, wall) pairs: rep i's totals across the 10
    # queries. Small enough for the driver-recorded stdout line, and they
    # carry the drift-cancellation evidence at the level the 2×-bar ratio
    # is computed (per-query pairs live in BENCH_DETAIL.json).
    n_reps_done = min(len(ps) for ps in hd["pairs"].values())
    set_pairs = [
        [
            round(sum(hd["pairs"][q][i][0] for q in hd["pairs"]), 4),
            round(sum(hd["pairs"][q][i][1] for q in hd["pairs"]), 4),
        ]
        for i in range(n_reps_done)
    ]

    all_ratios = {**headline_dp_ratio, **llm_out.get("per_query_dp_ratio", {})}
    all_dp = {**hd["per_query_dp"], **(lm.get("per_query_dp", {}) if lm else {})}
    all_base = {
        **(hb["queries"] if hb else {}),
        **llm_out.get("per_query_duckdb_sec", {}),
    }
    # VERDICT r11 #6: ratio > 2 on a millisecond DuckDB denominator is a
    # measurement class, not a plan defect — Spark's per-job scheduling
    # floor (~25-60 ms) dwarfs a 4-11 ms oracle denominator, so +13-34 ms
    # excesses used to flag queries whose plans were verified clean. Flag
    # only when the ABSOLUTE excess also clears the session's measured
    # scheduling floor (empty-job + 1-row-shuffle min walls, 50 ms minimum);
    # the raw excess for EVERY >2× ratio still lands in BENCH_DETAIL.json
    # as dp_excess_all_sec so nothing is hidden by the calibration.
    sched_floor = hd.get("empty_job_sec", 0.0) + hd.get("shuffle_1row_sec", 0.0)
    flag_floor = max(0.05, round(sched_floor, 3))
    excess_all = {
        n: round(all_dp[n] - all_base[n], 3)
        for n, r in all_ratios.items()
        if r > 2.0 and n in all_base
    }
    dp_gt2 = sorted(n for n, x in excess_all.items() if x > flag_floor)
    # Formally adjudicated residues (VERDICT r11 task #1): queries whose
    # per-query 2x bar is documented as unmet for an attributed reason,
    # with the closure evidence in PERF.md. They are reported under
    # dp_adjudicated (with the raw excess) instead of dp_gt2 — adjudication
    # moves the flag, never the number.
    DP_ADJUDICATED = {
        # Exchange serialization two stages deep on an 89 ms DuckDB
        # denominator; whole-set datapath < 1x DuckDB; plan shape pinned by
        # tests/test_plans.py::test_join_revenue_broadcasts_dims_not_facts.
        # r12 closure A/B (`git show e396564:tools/ab_jr_intkey_r12.py`):
        # int-key agg, cents pre-agg, and explicit projection all measured
        # neutral or worse. Evidence: PERF.md s67.
        "join_revenue_by_nation": "PERF.md s67",
    }
    dp_adjudicated = {
        n: {"excess_sec": excess_all[n], "evidence": DP_ADJUDICATED[n]}
        for n in dp_gt2
        if n in DP_ADJUDICATED
    }
    dp_gt2 = [n for n in dp_gt2 if n not in DP_ADJUDICATED]
    dp_excess = {n: excess_all[n] for n in dp_gt2}

    detail = {
        "metric": "headline_query_set_wall_sec",
        "value": concurrent,
        "unit": "sec",
        "protocol": "r9: fresh JVM per set; ABAB-paired floor/wall reps",
        "queries": timings,
        "queries_mean": hd["queries_mean"],
        "queries_stdev": hd["queries_stdev"],
        "sequential_wall_sec": sequential,
        "concurrent_wall_sec": concurrent,
        "concurrent_runs": hd["concurrent_runs"],
        "concurrent_post_churn_sec": hd.get("concurrent_post_churn_sec"),
        "concurrent_post_churn_runs": hd.get("concurrent_post_churn_runs"),
        "reps": hd["reps"],
        "cpus": hd.get("cpus_env"),
        "parallelism": hd.get("default_parallelism"),
        "parallel_probe_sec": hd.get("parallel_probe_sec"),
        "parallel_probe_runs": hd.get("parallel_probe_runs"),
        "llm_set": llm_out,
        "floor": floor,
        "floor_wall_pairs_set": set_pairs,
        "dp_gt2": dp_gt2,
        "dp_excess_sec": dp_excess,
        "dp_excess_all_sec": excess_all,
        "dp_flag_floor_sec": flag_floor,
        "dp_adjudicated": dp_adjudicated,
        "sf": sf,
    }
    with open(os.path.join(REPO_ROOT, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")

    compact = {
        "metric": "headline_query_set_wall_sec",
        "value": concurrent,
        "unit": "sec",
        "queries": timings,
        "sequential_wall_sec": sequential,
        "concurrent_wall_sec": concurrent,
        "concurrent_post_churn_sec": hd.get("concurrent_post_churn_sec"),
        "llm_wall_sec": llm_out.get("wall_sec"),
        "llm_datapath_sec": llm_out.get("datapath_sec"),
        "llm_duckdb_baseline_sec": llm_out.get("duckdb_baseline_sec"),
        "llm_datapath_vs_duckdb": llm_out.get("datapath_vs_duckdb"),
        "floor_sec": floor_sec,
        "datapath_sec": datapath,
        "datapath_vs_duckdb": floor["datapath_vs_duckdb"],
        "duckdb_baseline_sec": duckdb_baseline,
        "floor_wall_pairs_set": set_pairs,
        "dp_gt2": dp_gt2,
        "dp_excess_sec": dp_excess,
        "dp_adjudicated": dp_adjudicated,
        "cpus": hd.get("cpus_env"),
        "parallelism": hd.get("default_parallelism"),
        "detail": "BENCH_DETAIL.json",
        "sf": sf,
    }
    line = json.dumps(compact)
    if len(line) >= 1900:
        # Never abort after the reps have run (ADVICE r6): the per-query
        # map is the growable part and already lives in BENCH_DETAIL.json —
        # drop it from stdout rather than lose the run to the driver's
        # 2000-char tail.
        compact.pop("queries", None)
        compact["queries_note"] = "dropped from stdout (line>1900ch); see detail"
        line = json.dumps(compact)
    print(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--phase", choices=["headline", "llm"])
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.phase:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        if args.phase == "headline":
            run_headline_phase(sf_dir, args.out)
        else:
            run_llm_phase(sf_dir, args.out)
    else:
        orchestrate()


if __name__ == "__main__":
    main()
