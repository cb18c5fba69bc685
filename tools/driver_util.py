"""Helpers shared by tools/drive_driver.py and tools/abab.py.

VERDICT r11 #5: ``--only`` is a regex but reads like a comma list; a
comma-joined invocation used to silently match 0 queries and print
``FAILS: 0``. The filter logic lives here so tests/test_tools.py can pin
the zero-match error without paying a SparkSession. pyspark is imported
inside :func:`driver_session` only, for the same reason.
"""
from __future__ import annotations

import re


def driver_session(driver_memory: str | None = None):
    """The hostile session the grading driver builds: local[8], a non-UTC
    timezone, no tuning, default confs, UI off. Per-query ``tune()`` must
    override it; every sweep and ABAB timing runs in this one protocol."""
    from pyspark.sql import SparkSession

    builder = (SparkSession.builder.master("local[8]")
               .appName("driver-sim")
               .config("spark.sql.session.timeZone", "America/New_York")
               .config("spark.ui.enabled", "false"))
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def filter_only(qs: dict, only: str) -> tuple[dict, str | None]:
    """Apply the --only regex; return (filtered, error_message_or_None).

    A zero-match filter is an ERROR, not an empty-but-green run. When the
    pattern contains commas the message points at the '|' alternation form,
    the mistake that motivated this guard (a comma list matches nothing).
    """
    pat = re.compile(only)
    filtered = {n: f for n, f in qs.items() if pat.search(n)}
    if filtered:
        return filtered, None
    msg = f"--only {only!r} matched 0 of the registered queries"
    if "," in only:
        msg += " (it is a regex, not a comma list — join names with '|')"
    return filtered, msg
