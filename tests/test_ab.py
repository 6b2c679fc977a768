"""The A/B harness's verdict rule (``tools/ab.py``): pure Python, no Spark."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

# ten parent runs with median 100 and an interquartile range of 1.5
PARENT = [99.0, 100.0, 101.0, 100.0, 99.0, 101.0, 100.0, 98.0, 102.0, 100.0]


def _flip(xs, better):
    """The same runs on the scale where lower is better."""
    return xs if better == "higher" else [-x for x in xs]


@pytest.mark.parametrize("better", ["higher", "lower"])
def test_nine_of_ten_wins_beyond_the_iqr_is_a_gain(better):
    change = [x + 5 for x in PARENT[:9]] + [PARENT[9] - 1]
    v = ab.verdict(_flip(PARENT, better), _flip(change, better), better, 0.24)
    assert (v["wins"], v["pairs"], v["verdict"]) == (9, 10, "gain")


@pytest.mark.parametrize("better", ["higher", "lower"])
def test_eight_of_ten_wins_is_not_a_gain(better):
    change = [x + 5 for x in PARENT[:8]] + [x - 1 for x in PARENT[8:]]
    v = ab.verdict(_flip(PARENT, better), _flip(change, better), better, 0.24)
    assert v["wins"] == 8 and v["verdict"] == "same"


def test_ties_count_for_neither_side():
    change = [x + 5 for x in PARENT[:9]] + [PARENT[9]]
    assert ab.verdict(PARENT, change, "higher", 0.24)["wins"] == 9
    v = ab.verdict(PARENT, list(PARENT), "higher", 0.24)
    assert (v["wins"], v["verdict"]) == (0, "same")
    # 8 wins, 2 ties: ties are not wins, so still 8/10
    change = [x + 5 for x in PARENT[:8]] + PARENT[8:]
    assert ab.verdict(PARENT, change, "higher", 0.24)["wins"] == 8


def test_failed_runs_are_counted_not_dropped():
    change = [x + 5 for x in PARENT[:9]] + [None]
    v = ab.verdict(PARENT, change, "higher", 0.24)
    assert v["failed"] == [0, 1] and v["wins"] == 9 and v["verdict"] == "gain"
    change = [x + 5 for x in PARENT[:8]] + [None, None]
    v = ab.verdict(PARENT, change, "higher", 0.24)
    assert v["failed"] == [0, 2] and v["verdict"] != "gain"
    assert ab.verdict(PARENT, [None] * 10, "higher", 0.24)["verdict"] == "failed"


@pytest.mark.parametrize("better", ["higher", "lower"])
def test_a_delta_inside_the_parent_iqr_is_not_a_gain(better):
    change = [x + 0.5 for x in PARENT]  # wins every pair, moves 0.5 < IQR 1.5
    v = ab.verdict(_flip(PARENT, better), _flip(change, better), better, 0.24)
    assert v["wins"] == 10 and v["parent"]["iqr"] == 1.5
    assert v["verdict"] == "same"


def test_fewer_than_ten_pairs_is_never_a_gain():
    change = [x + 50 for x in PARENT]
    for n in range(1, 10):
        assert ab.verdict(PARENT[:n], change[:n], "higher", 0.24)["verdict"] == "same"
        assert ab.verdict(PARENT[:n], change[:n], "higher", None)["verdict"] == "no gain"
    assert ab.verdict(PARENT, change, "higher", None)["verdict"] == "gain"


@pytest.mark.parametrize("better", ["higher", "lower"])
def test_a_delta_beyond_the_bound_is_worse(better):
    change = [x * 0.7 if better == "higher" else x * 1.3 for x in PARENT]
    v = ab.verdict(PARENT, change, better, 0.24)
    assert v["verdict"] == "worse"
    # inside the bound, with a narrow spread: same
    change = [x * 0.9 if better == "higher" else x * 1.1 for x in PARENT]
    assert ab.verdict(PARENT, change, better, 0.24)["verdict"] == "same"


@pytest.mark.parametrize("better", ["higher", "lower"])
def test_a_spread_wider_than_the_bound_is_unresolved(better):
    wide = [60.0, 140.0, 80.0, 120.0, 100.0, 70.0, 130.0, 90.0, 110.0, 100.0]
    assert ab.verdict(wide, list(wide), better, 0.24)["verdict"] == "unresolved"
    # the change's own spread counts too
    assert ab.verdict(PARENT, wide, better, 0.24)["verdict"] == "unresolved"
    # unless every change run beats every parent run (9 pairs: no gain test)
    change = [x + 200 for x in wide] if better == "higher" else [x / 4 for x in wide]
    assert ab.verdict(wide[:9], change[:9], better, 0.24)["verdict"] == "same"


def test_the_harness_imports_no_spark():
    code = (f"import runpy, sys; runpy.run_path({ab.__file__!r}); "
            "assert 'pyspark' not in sys.modules")
    subprocess.run([sys.executable, "-c", code], check=True)
