"""Same-session ABAB timing of two query callables, rows asserted equal.

Usage:
    python tools/abab.py A B [--sf DIR]

A and B are registered query names (``self_join_cohour_pairs``) or
importable ``module:function`` callables with the registered signature
``(spark, sf_dir) -> DataFrame``. A conf or monkeypatch arm is a
``module:function`` wrapper that sets the lever up, calls the query and
restores it; the tool itself has no option for it.

Protocol, in one drive_driver session (local[8], non-UTC tz, UI off):
  1. run each side once untimed and exit 1 unless the two results have
     equal ``oracle.canonical_rows``;
  2. time PAIRS pairs of ``fn(spark, sf).toPandas()``, the first side
     alternating (A B, B A, A B, ...) so JVM warm-up and drift within the
     session fall on both sides; Python and JVM GC run before each call,
     outside its timed region;
  3. print one JSON line: per-side walls, median and quartiles, the
     number of pairs B won, and B's median over A's.

Cross-session walls drift 15-40% on a shared box, so a before/after claim
is read from one such line, never from two separate runs.
"""
from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Fixed so every ABAB line carries the same statistical weight.
PAIRS = 10

_CALLABLE = re.compile(r"[A-Za-z_][\w.]*:[A-Za-z_]\w*")
_NAME = re.compile(r"\w+")


def resolve(spec: str, registered: dict | None = None):
    """Map a spec to its ``(spark, sf_dir) -> DataFrame`` callable.

    ``registered`` defaults to the package registry (loaded on first use);
    an unknown name, a malformed spec, or a spec whose import fails exits
    with a message naming the spec.
    """
    if _CALLABLE.fullmatch(spec):
        module, func = spec.split(":")
        try:
            fn = getattr(importlib.import_module(module), func)
        except (ImportError, AttributeError) as e:
            sys.exit(f"abab: cannot resolve {spec!r}: {e}")
        if not callable(fn):
            sys.exit(f"abab: {spec!r} is not callable")
        return fn
    if not _NAME.fullmatch(spec):
        sys.exit(f"abab: malformed spec {spec!r}: expected a registered "
                 "query name or module:function")
    if registered is None:
        from big_data__instagram_analysis_spark.registry import get_queries

        registered = get_queries()
    if spec not in registered:
        sys.exit(f"abab: unknown query name {spec!r}")
    return registered[spec]


def schedule(pairs: int = PAIRS) -> list[tuple[str, str]]:
    """Run order per pair; the side that runs first alternates."""
    return [("a", "b") if i % 2 == 0 else ("b", "a") for i in range(pairs)]


def summarize(walls_a: list[float], walls_b: list[float]) -> dict:
    """Per-side walls, median and quartiles; pairs B won (ties count for
    neither side); B's median over A's."""
    out = {}
    for side, walls in (("a", walls_a), ("b", walls_b)):
        q1, med, q3 = statistics.quantiles(walls, n=4, method="inclusive")
        out[side] = {"walls": [round(w, 3) for w in walls], "q1": round(q1, 3),
                     "median": round(med, 3), "q3": round(q3, 3)}
    out["b_wins"] = sum(b < a for a, b in zip(walls_a, walls_b))
    out["b_over_a"] = round(out["b"]["median"] / out["a"]["median"], 3)
    return out


def main() -> None:
    from big_data__instagram_analysis_spark.io import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="baseline: registered name or module:function")
    ap.add_argument("b", help="candidate: registered name or module:function")
    ap.add_argument("--sf", default=os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1"),
                    help="fixture directory (default: the sf0.1 tier)")
    args = ap.parse_args()
    fns = {"a": resolve(args.a), "b": resolve(args.b)}

    from big_data__instagram_analysis_spark.oracle import canonical_rows
    from driver_util import driver_session

    spark = driver_session()
    (cols_a, rows_a), (cols_b, rows_b) = (
        canonical_rows(fns[side](spark, args.sf).toPandas()) for side in "ab")
    if (cols_a, rows_a) != (cols_b, rows_b):
        sys.exit(f"abab: {args.a} and {args.b} disagree at {args.sf}: columns "
                 f"{cols_a} vs {cols_b}, {len(rows_a)} vs {len(rows_b)} rows")

    walls: dict[str, list[float]] = {"a": [], "b": []}
    jvm = spark.sparkContext._jvm
    for order in schedule():
        for side in order:
            gc.collect()
            jvm.System.gc()
            t0 = time.perf_counter()
            fns[side](spark, args.sf).toPandas()
            walls[side].append(time.perf_counter() - t0)
    spark.stop()
    line = {"a_spec": args.a, "b_spec": args.b, "sf": args.sf, "pairs": PAIRS,
            "rows": len(rows_a), **summarize(walls["a"], walls["b"])}
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
