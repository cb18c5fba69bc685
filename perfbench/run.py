#!/usr/bin/env python3
"""Benchmark of the query engine: one closed-loop client, one workload.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. deletes the package's scratch dir (``.scratch/``), so every run starts
   from the same state: no stream replay dirs and no sink output;
2. starts a ``local[<cpus>]`` session with the bench tuning ``bench.py``
   uses, imports the query registry and runs two untimed warm-up passes
   over the fixture tables in ``fixtures/``: the first in the workload's
   declared order, checking every result against its DuckDB oracle
   (``oracle.compare_frames``), the second so that the timed passes run
   after the JVM's JIT compilation has mostly settled;
3. runs ``round(--seconds / PASS_S[workload])`` timed passes (at least
   one). Each query execution is
   ``get_specs()[name].fn(spark, sf_dir).toPandas()``. After each pass,
   outside the timed region, every result's canonical-row hash is compared
   with the hash the warm-up verified.

Every pass after the first runs the queries in an order drawn from
``--seed`` (``pass_orders``). With ``--trace 1`` the timed phase is four passes, untraced,
traced, traced, untraced (``spans.py``), then the workload on 1-row copies
of the tables (the scheduling floor); the per-layer metrics come from the
traced passes.

Standard output ends with one JSON line holding ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``. The line before it
records the settings, sample counts and (traced) the self time of every
layer in each traced pass.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import probes  # noqa: E402
import spans  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
#: Byte copies of the seed-42 fixture tables, one dir per scale factor.
FIXTURES = os.path.join(ROOT, "perfbench", "fixtures")
PKG = "big_data__instagram_analysis_spark"
SF = 0.1
#: Fits a 4-core, 15 GB machine shared with other jobs; the package's
#: own default (16g) assumes a 32-core host.
DRIVER_MEMORY = "4g"
#: A query execution that runs longer than this is cancelled and failed.
QUERY_TIMEOUT_S = 60

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Six of the ten bench-tagged analyst queries, one per fact or corpus
    # table: aggregate, window, anti-join and top-k plans whose work runs
    # when the result is collected, near Spark's scheduling floor, so
    # io.load's schema jobs are a visible share. embed_knn_allpairs runs
    # operators.similarity.
    "headline": (
        "pricing_summary",
        "window_topk_orders",
        "events_hourly",
        "customers_without_orders",
        "doc_stats_by_lang",
        "embed_knn_allpairs",
    ),
    # Fixpoint loops that run to convergence while the DataFrame is built:
    # curation_pipeline's near-duplicate clusters (operators.dedup, then
    # connected components in operators.graph) and kmeans_clusters
    # (operators.clustering). The returned plans are small.
    "iterative": (
        "curation_pipeline",
        "kmeans_clusters",
    ),
}

#: Wall time of one warm pass on a 4-vCPU VM. A run times
#: round(--seconds / PASS_S) passes, at least one: a count fixed by the
#: arguments, not by the machine's speed, as the JVM still speeds up from
#: pass to pass.
PASS_S = {"headline": 3.5, "iterative": 8.0}

LAYER_UNITS = {
    "session.start_s": "s",
    "io.load_calls": "count",
    "io.load_s": "s",
    "io.load_jobs": "count",
    "queries.construct_s": "s",
    "queries.construct_self_s": "s",
    "queries.construct_jobs": "count",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "operators.graph_s": "s",
    "operators.clustering_s": "s",
    "operators.jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.result_rows": "count",
    "exec.result_bytes": "bytes",
    "floor.s": "s",
    "spark.error_lines": "count",
    "trace.overhead_frac": "ratio",
    "trace.uncovered_frac": "ratio",
}


def quantile(values: list[float], q: float) -> float:
    """Linearly interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def result_hash(pdf) -> str:
    from big_data__instagram_analysis_spark.oracle import canonical_rows

    return hashlib.sha256(repr(canonical_rows(pdf)).encode()).hexdigest()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


@dataclass
class Execution:
    query: str
    seconds: float
    cpu_s: float
    jit_s: float
    pdf: object = None
    error: str | None = None


class Client:
    """The closed-loop client: one query execution at a time."""

    def __init__(self, spark, specs, sf_dir: str, cpu: probes.TreeCpu) -> None:
        self.spark, self.specs, self.sf_dir = spark, specs, sf_dir
        self.cpu = cpu
        self.tracer = None

    def execute(self, name: str, sf_dir: str | None = None) -> Execution:
        """Run one query; record its wall time and its process-tree CPU time,
        with the JVM's JIT compilation apart."""
        timer = threading.Timer(QUERY_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        cpu0, jit0 = self.cpu.read()
        t0 = time.perf_counter()
        pdf, error = None, None
        try:
            pdf = self._run(name, sf_dir or self.sf_dir)
        except Exception as exc:  # a failed execution is a measured outcome
            error = f"{type(exc).__name__}: {exc}"
        finally:
            timer.cancel()
        wall = time.perf_counter() - t0
        cpu, jit = self.cpu.read()
        return Execution(name, wall, cpu - cpu0, jit - jit0, pdf=pdf, error=error)

    def _run(self, name: str, sf_dir: str):
        fn = self.specs[name].fn
        if self.tracer is None:
            return fn(self.spark, sf_dir).toPandas()
        with self.tracer.span("queries.construct"):
            df = fn(self.spark, sf_dir)
        with self.tracer.span("exec") as s:
            pdf = df.toPandas()
        s.attrs["rows"] = len(pdf)
        s.attrs["bytes"] = int(pdf.memory_usage(index=False, deep=True).sum())
        return pdf

    def run_pass(self, order: list[str], verified: dict[str, str], tally: dict):
        """Execute ``order`` once; return the pass wall and its executions.

        Results are checked against ``verified`` after the pass ends.
        """
        t0 = time.perf_counter()
        runs = [self.execute(name) for name in order]
        wall = time.perf_counter() - t0
        for r in runs:
            tally["attempted"] += 1
            if r.error is None and verified.get(r.query) != result_hash(r.pdf):
                r.error = "result differs from the oracle-verified rows"
            if r.error is not None:
                tally["failed"] += 1
                tally["errors"].append(f"{r.query}: {r.error}"[:500])
            r.pdf = None
        return wall, runs


def tables_digest(sf_dir: str) -> str:
    """Digest of the fixture tables' bytes."""
    h = hashlib.sha256()
    for fn in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, fn), "rb") as fh:
            h.update(fn.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_frame(specs, name: str, sf_dir: str, con):
    """DuckDB result of ``name``'s oracle SQL, cached per checkout.

    Keyed by the tables' bytes and the SQL text, so the oracle runs once
    per checkout and later runs reuse its result.
    """
    import pandas as pd

    sql = specs[name].oracle
    key = hashlib.sha256(f"{tables_digest(sf_dir)}|{sql}".encode()).hexdigest()[:16]
    path = os.path.join(WORK, "oracle", f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    duck = con.execute(sql).fetchdf()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    duck.to_pickle(path)
    return duck


def pass_orders(queries: list[str], seed: int):
    """Yield the query order of every pass after the first, which runs the
    declared order.

    Orders are drawn from ``seed``, but a pass never starts with the query
    the previous one ended with: a query run right after itself costs
    less (an ``iterative`` pass used 9.2-11.0 s of CPU when its first
    query repeated the previous one, 12.8-13.0 s when it did not), and in
    a mix of many queries such repeats are rare. A two-query workload
    therefore always runs its declared order.
    """
    rng = random.Random(seed)
    last = queries[-1]
    while True:
        order = rng.sample(queries, len(queries))
        if len(queries) > 1 and order[0] == last:
            continue
        last = order[-1]
        yield order


def warm_up(client: Client, queries, orders, tally) -> tuple[dict[str, str], float]:
    """Two untimed passes: one in declared order, each result checked
    against its oracle, then one in a seed-drawn order, each result checked
    against the first pass's.

    Returns the verified result hashes and the seconds spent on the oracle.
    """
    from big_data__instagram_analysis_spark.oracle import compare_frames, duck_connect

    verified: dict[str, str] = {}
    t0 = time.perf_counter()
    con = duck_connect(client.sf_dir)
    oracle_s = time.perf_counter() - t0
    try:
        for name in queries:
            r = client.execute(name)
            t0 = time.perf_counter()
            if r.error is None:
                duck = oracle_frame(client.specs, name, client.sf_dir, con)
                parity = compare_frames(name, r.pdf, duck)
                if parity.ok:
                    verified[name] = result_hash(r.pdf)
                else:
                    r.error = parity.summary()
            if r.error is not None:
                tally["oracle_failures"].append(f"{name}: {r.error}"[:2000])
            oracle_s += time.perf_counter() - t0
    finally:
        con.close()
    client.run_pass(next(orders), verified, tally)
    return verified, oracle_s


def timed_phase(client, orders, n_passes: int, verified, tally):
    """``n_passes`` untraced passes."""
    passes = []
    machine0 = probes.cpu_times()
    for _ in range(n_passes):
        passes.append(client.run_pass(next(orders), verified, tally))
    machine = [b - a for a, b in zip(machine0, probes.cpu_times())]
    runs = [r for _, pass_runs in passes for r in pass_runs]
    cpu = [r.cpu_s for r in runs]
    metrics = {
        "pass_cpu_s": metric(statistics.median(sum(r.cpu_s for r in p) for _, p in passes), "s"),
        "query_cpu_p50_s": metric(quantile(cpu, 0.5), "s"),
        "query_cpu_p90_s": metric(quantile(cpu, 0.9), "s"),
        "ok_frac": metric(1 - tally["failed"] / tally["attempted"], "ratio"),
    }
    wall = [r.seconds for r in runs]
    per_query: dict[str, list[float]] = {}
    per_query_cpu: dict[str, list[float]] = {}
    for r in runs:
        per_query.setdefault(r.query, []).append(r.seconds)
        per_query_cpu.setdefault(r.query, []).append(r.cpu_s)
    detail = {
        # Wall-clock latencies: what a caller waits for, but on a shared
        # machine they move with the CPU the hypervisor steals.
        "pass_s": statistics.median(w for w, _ in passes),
        "query_p50_s": quantile(wall, 0.5),
        "query_p90_s": quantile(wall, 0.9),
        "pass_walls_s": [w for w, _ in passes],
        "pass_cpus_s": [sum(r.cpu_s for r in p) for _, p in passes],
        "pass_jit_cpus_s": [sum(r.jit_s for r in p) for _, p in passes],
        "query_walls_s": per_query,
        "query_cpus_s": per_query_cpu,
        "query_samples": len(runs),
        # Share of the machine's CPU time the hypervisor gave to others.
        "cpu_steal_frac": machine[7] / sum(machine) if sum(machine) else 0.0,
    }
    return metrics, detail


def layer_metrics(roots, wall: float, probe) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer sums over one traced pass, and each layer's self time.

    The self times plus ``uncovered`` add up to the pass wall.
    """
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    self_s = {"uncovered": wall - sum(r.duration for r in roots)}
    exec_jobs: list[int] = []

    def visit(s, outer_operator: str | None) -> None:
        self_s[s.name] = self_s.get(s.name, 0.0) + s.self_time
        if s.name == "io.load":
            m["io.load_calls"] += 1
            m["io.load_s"] += s.duration
            m["io.load_jobs"] += len(s.all_jobs())
        elif s.name.startswith("operators.") and outer_operator is None:
            if f"{s.name}_s" in m:
                m[f"{s.name}_s"] += s.duration
            m["operators.jobs"] += len(s.all_jobs())
            outer_operator = s.name
        for c in s.children:
            visit(c, outer_operator)

    for root in roots:
        visit(root, None)
        if root.name == "queries.construct":
            m["queries.construct_s"] += root.duration
            m["queries.construct_self_s"] += root.self_time
            m["queries.construct_jobs"] += len(root.all_jobs())
        else:  # exec
            m["exec.s"] += root.duration
            m["exec.result_rows"] += root.attrs.get("rows", 0)
            m["exec.result_bytes"] += root.attrs.get("bytes", 0)
            exec_jobs.extend(root.all_jobs())
    m["exec.jobs"] = len(exec_jobs)
    m["exec.stages"], m["exec.tasks"], m["exec.failed_tasks"] = probe.stage_counts(exec_jobs)
    m["trace.uncovered_frac"] = self_s["uncovered"] / wall
    return m, self_s


def traced_phase(client, queries, orders, verified, tally):
    """Four passes, untraced, traced, traced, untraced, so a JVM that still
    speeds up biases neither side; then the floor pass. Per-layer values are
    medians over the two traced passes. The four passes run whatever
    ``--seconds`` says."""
    probe = probes.JobProbe(client.spark.sparkContext)
    tracer = spans.Tracer(probe)
    plain, walls, per_pass, self_times = [], [], [], []
    for i in range(4):
        order = next(orders)
        if i in (0, 3):
            plain.append(client.run_pass(order, verified, tally)[0])
            continue
        uninstall = spans.install(tracer)
        client.tracer = tracer
        try:
            wall, _ = client.run_pass(order, verified, tally)
        finally:
            client.tracer = None
            uninstall()
        walls.append(wall)
        m, s = layer_metrics(tracer.take(), wall, probe)
        per_pass.append(m)
        self_times.append({"wall": wall, **s})

    # Floor: the same queries on 1-row copies of the tables, built the way
    # bench.py builds its floor; the second pass is measured.
    from bench import _build_floor_tables

    # A name of its own: sinks namespace their output by the dir's basename.
    floor_dir = os.path.join(WORK, f"floor_{os.path.basename(client.sf_dir)}")
    _build_floor_tables(client.sf_dir, floor_dir)
    for _ in range(2):
        floor = [client.execute(q, floor_dir) for q in queries]
    metrics = {
        k: metric(statistics.median(m[k] for m in per_pass), u) for k, u in LAYER_UNITS.items()
    }
    metrics["floor.s"] = metric(sum(r.seconds for r in floor), "s")
    metrics["trace.overhead_frac"] = metric(
        statistics.median(walls) / statistics.median(plain) - 1, "ratio"
    )
    detail = {
        "untraced_pass_s": plain,
        "traced_pass_s": walls,
        "self_s_by_layer": self_times,
        "floor_errors": [f"{r.query}: {r.error}"[:300] for r in floor if r.error],
    }
    return metrics, detail


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    # The JVM exits when its stdin closes.
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF, help="fixture scale factor")
    return p.parse_args(argv)


def pin_environment() -> dict[str, str]:
    """Size the session to this machine and keep every write in the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed set of JIT compiler threads, so that probes.TreeCpu sees each
    # of them: HotSpot otherwise starts and stops them with the load.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    # The driver's heap at full size and resident from the start: when G1
    # sized it from run to run, the same iterative pass used 9.5-13.4 s of
    # CPU, more garbage collection the smaller the heap it had chosen, and
    # peak RSS followed how much of the heap each run had touched.
    driver_opts = f"{jvm_opts} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # Both the launcher JVM and the driver JVM: no /tmp writes.
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SPARK_SUBMIT_OPTS": driver_opts,
        # Python workers import the package from the checkout too.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    return env


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found in {ROOT}", file=sys.stderr)
        return 2
    sf_dir = os.path.join(FIXTURES, f"sf{args.sf:g}")
    if not os.path.isdir(sf_dir):
        print(f"perfbench: no fixture tables in {sf_dir}", file=sys.stderr)
        return 2
    env = pin_environment()

    shutil.rmtree(os.path.join(ROOT, ".scratch"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", f"{args.workload}-{args.seed}-{args.trace}.stderr")

    queries = list(WORKLOADS[args.workload])
    orders = pass_orders(queries, args.seed)
    tally = {"attempted": 0, "failed": 0, "errors": [], "oracle_failures": []}
    with probes.capture_stderr(log_path):
        from big_data__instagram_analysis_spark.session import (
            RUNTIME_CONF,
            enable_bench_tuning,
            get_spark,
        )

        t0 = time.perf_counter()
        enable_bench_tuning()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            from big_data__instagram_analysis_spark.registry import get_specs

            with probes.RssSampler() as rss:
                cpu = probes.TreeCpu(os.getpid(), exclude=(rss.tid,))
                client = Client(spark, get_specs(), sf_dir, cpu)
                verified, oracle_s = warm_up(client, queries, orders, tally)
                setup_s = time.perf_counter() - T_PROCESS - oracle_s
                rss.reset()  # peak over the timed phase only
                if args.trace:
                    metrics, detail = traced_phase(client, queries, orders, verified, tally)
                else:
                    n_passes = max(1, round(args.seconds / PASS_S[args.workload]))
                    metrics, detail = timed_phase(client, orders, n_passes, verified, tally)
            metrics["peak_rss_mb"] = metric(rss.peak_bytes / 2**20, "MB")
        finally:
            stop_session(spark)
    error_lines = probes.count_error_lines(log_path)
    if args.trace:
        metrics["session.start_s"] = metric(session_s, "s")
        metrics["spark.error_lines"] = metric(error_lines, "count")
        metrics = {k: metrics[k] for k in LAYER_UNITS}  # drops peak_rss_mb
    else:
        metrics = {"setup_s": metric(setup_s, "s"), **metrics}
    settings = {
        "workload": args.workload,
        "queries": queries,
        "seed": args.seed,
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "driver_memory": DRIVER_MEMORY,
        "runtime_conf": dict(RUNTIME_CONF),
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "scratch_state": ".scratch/ deleted before the session starts",
        "setup_excludes_s": {"oracle": oracle_s},
        "session_start_s": session_s,
        "spark_error_lines": error_lines,
        **detail,
        "errors": tally["errors"][:10],
        "oracle_failures": tally["oracle_failures"],
    }
    print(json.dumps({"settings": settings}))
    result = {
        "correct": not tally["oracle_failures"] and tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
