"""Unit tests for the Spark-free parts of the tools (tools/driver_util.py,
tools/abab.py), plus a compile check of every kept tool script.

VERDICT r11 #5: ``drive_driver.py --only`` is a regex but reads like a comma
list; a comma-joined pattern used to silently match 0 queries and exit green.
These tests pin the zero-match error path, and abab.py's spec resolution,
pair schedule and statistics, without starting a SparkSession.
"""
import glob
import importlib.util
import os
import py_compile

import pytest

TOOLS = os.path.join(os.path.dirname(__file__), "..", "tools")


def _load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


driver_util = _load("driver_util")
abab = _load("abab")

QS = {"pricing_summary": 1, "join_revenue_by_nation": 2, "exact_dedup_docs": 3}


def test_only_regex_filters():
    got, err = driver_util.filter_only(QS, "dedup|pricing")
    assert err is None
    assert set(got) == {"pricing_summary", "exact_dedup_docs"}


def test_only_substring_match():
    got, err = driver_util.filter_only(QS, "revenue")
    assert err is None and set(got) == {"join_revenue_by_nation"}


def test_only_zero_match_is_error():
    got, err = driver_util.filter_only(QS, "no_such_query")
    assert got == {} and err is not None
    assert "matched 0" in err


def test_only_comma_list_suggests_alternation():
    # The motivating mistake: a comma-joined "list" matches nothing.
    got, err = driver_util.filter_only(QS, "pricing_summary,exact_dedup_docs")
    assert got == {} and err is not None
    assert "'|'" in err and "comma" in err


def test_abab_resolves_registered_name():
    from big_data__instagram_analysis_spark.registry import get_queries

    assert abab.resolve("pricing_summary") is get_queries()["pricing_summary"]


def test_abab_resolves_module_function():
    assert abab.resolve("os.path:join") is os.path.join


@pytest.mark.parametrize("spec", ["a:b:c", "pkg:", ":fn", "two words", "", "x-y"])
def test_abab_malformed_spec_exits(spec):
    with pytest.raises(SystemExit, match="malformed spec"):
        abab.resolve(spec, registered={})


@pytest.mark.parametrize(
    "spec, msg",
    [("no_such_query", "unknown query name"),
     ("no_such_module_for_abab:fn", "cannot resolve"),
     ("os.path:no_such_function", "cannot resolve"),
     ("os:sep", "not callable")],
)
def test_abab_unresolvable_spec_exits(spec, msg):
    with pytest.raises(SystemExit, match=msg):
        abab.resolve(spec, registered={"pricing_summary": object()})


def test_abab_schedule_alternates_first_side():
    order = abab.schedule()
    assert len(order) == abab.PAIRS == 10
    assert order[:4] == [("a", "b"), ("b", "a"), ("a", "b"), ("b", "a")]
    assert sum(first == "a" for first, _ in order) == abab.PAIRS // 2
    assert all(sorted(pair) == ["a", "b"] for pair in order)


def test_abab_summary_quartiles_and_wins():
    walls_a = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 10.0, 4.0, 8.0, 6.0]
    walls_b = [4.0, 1.0, 9.5, 2.0, 7.0, 1.0, 9.0, 4.5, 7.0, 5.0]
    out = abab.summarize(walls_a, walls_b)
    assert (out["a"]["q1"], out["a"]["median"], out["a"]["q3"]) == (3.25, 5.5, 7.75)
    assert out["a"]["walls"] == walls_a
    # B is faster in pairs 0, 3, 5, 6, 8 and 9; pairs 1 and 4 tie.
    assert out["b_wins"] == 6
    assert out["b"]["median"] == 4.75
    assert out["b_over_a"] == round(4.75 / 5.5, 3)


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(TOOLS, "*.py"))), ids=os.path.basename
)
def test_tool_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "tool.pyc"), doraise=True)
