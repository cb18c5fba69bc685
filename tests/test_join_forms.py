"""Join-form references for registered queries that count pairs in closed form.

``self_join_cohour_pairs`` counts the co-active user pairs of each
(day, hour) bucket as C(n, 2) over its distinct users. The pair self-join
it replaced is kept here as the reference the closed form must equal, and
as the A side of its same-session ABAB:

    python tools/abab.py tests.test_join_forms:cohour_pairs_join_form self_join_cohour_pairs
"""
import os

import pytest
from pyspark.sql import functions as F

from big_data__instagram_analysis_spark.io import DEFAULT_SF_DIR, load
from big_data__instagram_analysis_spark.oracle import canonical_rows
from big_data__instagram_analysis_spark.registry import get_queries
from big_data__instagram_analysis_spark.session import tune

_TESTDATA = os.path.dirname(DEFAULT_SF_DIR)


def cohour_pairs_join_form(spark, sf_dir):
    """Pair self-join on the distinct (day, hour, user) buckets: one row per
    co-active user pair, counted per bucket (quadratic in bucket size)."""
    tune(spark)
    e = load(spark, sf_dir, "events")
    hourly = e.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.hour("ts").cast("int").alias("h"),
        "user_id",
    ).distinct()
    a, b = hourly.alias("a"), hourly.alias("b")
    return (
        a.join(b, (F.col("a.d") == F.col("b.d")) & (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .groupBy(F.col("a.d").alias("d"), F.col("a.h").alias("h"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("d", "h")
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_cohour_closed_form_equals_join_form(spark, sf):
    sf_dir = os.path.join(_TESTDATA, sf)
    joined = canonical_rows(cohour_pairs_join_form(spark, sf_dir).toPandas())
    closed = canonical_rows(get_queries()["self_join_cohour_pairs"](spark, sf_dir).toPandas())
    assert joined[1], "join form is empty: the equality would be vacuous"
    assert closed == joined
