"""Smoke test of the benchmark at sf0.001 (about five minutes).

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced with the ``--seconds``
BENCHMARK.json gives, on the sf0.001 fixture tables. The test checks
that the result line names every metric of BENCHMARK.json with its unit
and that the oracle check is green. Like every run, it deletes the
package's ``.scratch/`` first.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FIXTURES = os.path.join(ROOT, "perfbench", "fixtures")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_fixtures_are_the_recorded_tables() -> None:
    """The tables hash to SHA256SUMS, and their timestamp columns carry the
    physical unit the package's io.load sees in them (microseconds; the
    NANOS branch for events.ts is not taken on these tables)."""
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as fh:
        sums = dict(reversed(line.split()) for line in fh)
    on_disk = {
        f"{d}/{fn}"
        for d in os.listdir(FIXTURES)
        if os.path.isdir(os.path.join(FIXTURES, d))
        for fn in os.listdir(os.path.join(FIXTURES, d))
    }
    assert on_disk == set(sums)
    for rel, digest in sums.items():
        with open(os.path.join(FIXTURES, rel), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == digest, rel
    for sf in ("sf0.1", "sf0.001"):
        for table, column in [("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")]:
            schema = pq.read_schema(os.path.join(FIXTURES, sf, f"{table}.parquet"))
            assert schema.field(column).type == pa.timestamp("us"), (sf, table)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload: str, trace: int) -> None:
    cmd = [sys.executable, *SPEC["command"][1:]]
    cmd += ["--workload", workload, "--seed", "0", "--seconds", str(SPEC["run_seconds"])]
    cmd += ["--trace", str(trace)]
    cmd += ["--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    settings = json.loads(lines[-2])["settings"]
    assert settings["oracle_failures"] == []
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in expected)
    for m in expected:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


def test_refuses_to_run_without_the_package() -> None:
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    fails without printing a result."""
    scratch = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copytree(
            os.path.join(ROOT, "perfbench"),
            os.path.join(bare, "perfbench"),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        cmd = [sys.executable, *SPEC["command"][1:], "--workload", SPEC["workloads"][0]["name"]]
        cmd += ["--seed", "1", "--seconds", "1", "--trace", "0"]
        proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout == ""
