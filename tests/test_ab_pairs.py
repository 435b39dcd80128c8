"""The verdict rule of ``scripts/ab_pairs.py`` (no Spark): a gain needs
nine tenths of the pairs and a median move beyond the parent's IQR; a
median worse than the bound is worse; a spread wider than the bound is
unresolved unless every change run beats every parent run. The run-order
count credits each pair to the side that ran first."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab_pairs",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "ab_pairs.py"),
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

PARENT = [100.0, 101.0, 99.0, 100.0, 102.0, 98.0, 100.0, 101.0, 99.0, 100.0]


def test_gain_needs_nine_of_ten_and_more_than_parent_iqr():
    v = ab.verdict(PARENT, [p + 10 for p in PARENT], "higher", 0.25)
    assert (v["wins"], v["losses"], v["ties"], v["verdict"]) == (10, 0, 0, "gain")
    # one loss and one tie: 8 of 10 wins is not a gain
    change = [p + 10 for p in PARENT]
    change[0], change[1] = PARENT[0] - 1, PARENT[1]
    v = ab.verdict(PARENT, change, "higher", 0.25)
    assert (v["wins"], v["losses"], v["ties"], v["verdict"]) == (8, 1, 1, "flat")
    # 9 of 10 is enough
    change[1] = PARENT[1] + 10
    assert ab.verdict(PARENT, change, "higher", 0.25)["verdict"] == "gain"


def test_gain_within_parent_iqr_is_not_claimed():
    # every pair won, but by less than the parent's quartile distance (1.0)
    v = ab.verdict(PARENT, [p + 0.5 for p in PARENT], "higher", 0.25)
    assert v["wins"] == 10 and v["verdict"] == "flat"


def test_direction_comes_from_better():
    lower = [p - 10 for p in PARENT]
    assert ab.verdict(PARENT, lower, "lower", 0.25)["verdict"] == "gain"
    assert ab.verdict(PARENT, lower, "higher", 0.25)["wins"] == 0


def test_worse_beyond_bound():
    v = ab.verdict(PARENT, [p * 0.7 for p in PARENT], "higher", 0.25)
    assert v["verdict"] == "worse"
    v = ab.verdict(PARENT, [p * 1.3 for p in PARENT], "lower", 0.25)
    assert v["verdict"] == "worse"
    # worse, but within the bound
    assert ab.verdict(PARENT, [p * 0.9 for p in PARENT], "higher", 0.25)["verdict"] == "flat"


def test_wide_spread_is_unresolved_unless_every_run_is_better():
    wide = [50.0, 150.0, 60.0, 140.0, 100.0, 80.0, 120.0, 70.0, 130.0, 100.0]
    assert ab.verdict(wide, list(wide), "higher", 0.25)["verdict"] == "unresolved"
    # every change run beats every parent run, by less than the
    # parent's quartile distance in the median: flat, not unresolved
    v = ab.verdict(wide, [151.0] * 10, "higher", 0.25)
    assert v["wins"] == 10 and v["verdict"] == "flat"


def test_quartiles_and_mismatched_sides():
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)
    with pytest.raises(ValueError):
        ab.verdict([1.0], [1.0, 2.0], "higher", 0.25)


def test_first_run_wins_counts_the_side_that_ran_first():
    parent_first = [True, False, True, False]
    # the side that ran first read higher in every pair
    parent, change = [12.0, 10.0, 12.0, 10.0], [10.0, 12.0, 10.0, 12.0]
    assert ab.first_run_wins(parent, change, parent_first, "higher") == (4, 0)
    assert ab.first_run_wins(parent, change, parent_first, "lower") == (0, 4)
    # the change read higher in every pair: order split them evenly
    assert ab.first_run_wins([10.0] * 4, [12.0] * 4, parent_first, "higher") == (2, 2)
    # ties count for neither side
    assert ab.first_run_wins([10.0] * 4, [10.0] * 4, parent_first, "higher") == (0, 0)
