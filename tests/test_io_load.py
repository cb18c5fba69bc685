"""``io.load``'s two ``events.ts`` branches.

Every fixture tier ships ``events.ts`` as TIMESTAMP(MICROS), so no
fixture takes the NANOS branch. Here the sf0.001 table is rewritten with
``ts`` as TIMESTAMP(NANOS) and both files must load to the same rows.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from big_data__instagram_analysis_spark.io import load, table_path
from big_data__instagram_analysis_spark.oracle import canonical_rows

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_load_events_nanos_matches_micros(spark, sf_dir, tmp_path):
    table = pq.read_table(table_path(sf_dir, "events"))
    assert table.schema.field("ts").type == pa.timestamp("us")
    nanos = table.set_column(
        table.schema.get_field_index("ts"),
        "ts",
        table.column("ts").cast(pa.timestamp("ns")),
    )
    pq.write_table(nanos, os.path.join(tmp_path, "events.parquet"))
    assert pq.read_schema(table_path(str(tmp_path), "events")).field(
        "ts"
    ).type == pa.timestamp("ns")

    prior = spark.conf.get(NANOS_CONF, None)
    try:
        micros = load(spark, sf_dir, "events")
        # The MICROS branch leaves the legacy conf as it found it.
        assert spark.conf.get(NANOS_CONF, None) == prior
        assert dict(micros.dtypes)["ts_ns"] == "bigint"

        ns = load(spark, str(tmp_path), "events")
        # Only the NANOS branch leaves the legacy conf set.
        assert spark.conf.get(NANOS_CONF) == "true"
        assert ns.dtypes == micros.dtypes
        # The NANOS scan re-reads the conf when it executes, so both
        # results are taken while the NANOS branch still holds it.
        got = canonical_rows(ns.select("event_id", "ts", "ts_ns").toPandas())
        want = canonical_rows(micros.select("event_id", "ts", "ts_ns").toPandas())
        assert len(want[1]) == table.num_rows
        assert got == want
    finally:
        if prior is None:
            spark.conf.unset(NANOS_CONF)
        else:
            spark.conf.set(NANOS_CONF, prior)
