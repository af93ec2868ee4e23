"""Unit pins for bench.py's one timing rule (``summarize``): a query's
time is the min of the passes that succeeded, ``value`` sums those
mins, and a query with no valid pass is listed in ``failed``."""

from __future__ import annotations

import importlib.util
import os

_BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)
_spec = importlib.util.spec_from_file_location("_bench_under_test", _BENCH)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_one_failed_pass_keeps_the_other():
    rec = bench.summarize({"a": 2.0, "b": None}, {"a": None, "b": 3.0})
    assert rec["queries"] == {
        "a": {"p1": 2.0, "p2": None, "min": 2.0},
        "b": {"p1": None, "p2": 3.0, "min": 3.0},
    }
    assert rec["value"] == 5.0 and rec["failed"] == []
    assert rec["noise"] == {}  # no query succeeded twice


def test_both_passes_failed_is_listed_and_adds_nothing():
    rec = bench.summarize({"a": 1.5, "b": None}, {"a": 1.0, "b": None})
    assert rec["queries"]["b"] == {"p1": None, "p2": None, "min": None}
    assert rec["failed"] == ["b"]
    assert rec["value"] == 1.0
    assert rec["noise"]["n"] == 1 and rec["noise"]["median_rel_spread"] == 0.5


def test_zero_time_is_kept():
    rec = bench.summarize({"a": 0.0, "b": 0.5}, {"a": 0.2, "b": 0.0})
    assert [rec["queries"][n]["min"] for n in ("a", "b")] == [0.0, 0.0]
    assert rec["value"] == 0.0 and rec["failed"] == []
