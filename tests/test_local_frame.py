"""``io.local_frame``: driver-held rows as an Arrow ``LocalRelation``.

The helper must be a drop-in for ``spark.createDataFrame(list, schema)``
(same rows, same schema, nullability included) for every schema shape the
package builds, while planning as a ``LocalTableScan`` that launches no
Python worker task. A surface rule keeps the pickled path from coming back.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from big_data__instagram_analysis_spark.io import bounded_collect, local_frame
from big_data__instagram_analysis_spark.oracle import canonical_rows
from big_data__instagram_analysis_spark.registry import get_specs

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "big_data__instagram_analysis_spark",
)

_NOT_NULL_LABELS = StructType(
    [StructField("node", LongType(), False), StructField("component", LongType(), False)]
)

#: One case per schema shape the package's call sites build.
CASES = {
    "string_int_double": (
        [("view", 1, 0.5), ("purchase", 2, 2.0), ("error", 4, 0.0)],
        "event_type string, priority int, weight double",
    ),
    "int_bigint": ([(0, 0), (1, 17), (2, 40)], "_pid int, _offset bigint"),
    "boolean": (
        [(100, True, False)],
        "n_total bigint, within_5sigma boolean, all_rows_from_table boolean",
    ),
    "array_double": (
        [(7, [0.25, -1.5, 3.0]), (9, [])],
        "centroid_id long, cvec array<double>",
    ),
    "null_key": (
        [("F", "finished"), ("O", "open"), (None, "pending-unknown")],
        "dk string, label string",
    ),
    "multibyte_string": ([("héllo wörld",), ("漢字テスト",)], "s string"),
    "empty": ([], "user_id bigint, dist int"),
    "not_nullable_struct": ([(3, 1), (1, 1), (8, 8)], _NOT_NULL_LABELS),
}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert canonical_rows(got.toPandas()) == canonical_rows(want.toPandas())
    plan = _executed_plan(got)
    assert plan.lstrip().startswith("LocalTableScan"), plan


def test_inline_values_source_is_local_table_scan(spark, sf_dir):
    df = get_specs()["inline_values_source"].fn(spark, sf_dir)
    assert _executed_plan(df).lstrip().startswith("LocalTableScan")


def test_bounded_collect_is_one_job_and_respects_the_bound(spark, count_jobs):
    """``bounded_collect`` returns the whole frame at exactly ``max_rows``
    rows and None at one row over, each in one Spark job (a one-partition
    frame, so ``CollectLimit`` needs no follow-on job)."""
    df = spark.range(0, 50, 1, numPartitions=1)
    jobs, pdf = count_jobs(lambda: bounded_collect(df, 50))
    assert jobs == 1
    assert sorted(pdf["id"].tolist()) == list(range(50))
    assert count_jobs(lambda: bounded_collect(df, 49)) == (1, None)


def _create_dataframe_sites() -> list[tuple[str, bool]]:
    """``(path:line, inside io.local_frame)`` for every ``.createDataFrame(``
    call in the package."""
    found = []
    for root, _, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            allowed = set()
            if os.path.relpath(path, PKG) == "io.py":
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                        allowed = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    site = f"{os.path.relpath(path, PKG)}:{node.lineno}"
                    found.append((site, id(node) in allowed))
    return found


def test_create_dataframe_only_inside_local_frame():
    sites = _create_dataframe_sites()
    outside = [site for site, inside in sites if not inside]
    assert outside == [], (
        "build driver-held rows with io.local_frame, not createDataFrame"
    )
    assert len(sites) == 1  # the scan does see local_frame's own call
