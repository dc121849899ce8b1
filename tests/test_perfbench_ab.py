"""The A/B script's acceptance verdict, on hand-made paired runs."""

import importlib.util
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "perfbench_ab.py"
spec = importlib.util.spec_from_file_location("perfbench_ab", SCRIPT)
ab = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ab)


def test_gain_needs_nine_tenths_of_wins_and_a_gap_beyond_the_base_iqr():
    base = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
    head = [b - 1.0 for b in base]
    v = ab.verdict(base, head, "lower", 0.25)
    assert (v["wins"], v["pairs"], v["gain"], v["bound"]) == (10, 10, True, "within")
    # one loss and one tie: 8 wins of 10 is not enough
    head[0], head[1] = base[0] + 0.5, base[1]
    v = ab.verdict(base, head, "lower", 0.25)
    assert (v["wins"], v["gain"]) == (8, False)
    # every pair won, but by less than the base's interquartile range
    v = ab.verdict(base, [b - 0.01 for b in base], "lower", 0.25)
    assert (v["wins"], v["gain"]) == (10, False)


def test_direction_follows_better():
    base = [100.0, 101.0, 99.0, 100.0]
    v = ab.verdict(base, [b + 10 for b in base], "higher", 0.25)
    assert v["wins"] == 4 and v["gain"]
    v = ab.verdict(base, [b + 10 for b in base], "lower", 0.25)
    assert v["wins"] == 0 and not v["gain"] and v["bound"] == "within"


def test_bound_worse_and_unresolved():
    base = [10.0, 10.1, 9.9, 10.0]
    # 30% slower against a 25% bound, on a tight base
    v = ab.verdict(base, [13.0, 13.1, 12.9, 13.0], "lower", 0.25)
    assert v["bound"] == "worse"
    assert ab.verdict(base, [11.0, 11.1, 10.9, 11.0], "lower", 0.25)["bound"] == "within"
    # the base spreads wider than the bound: nothing can be told ...
    wide = [6.0, 14.0, 8.0, 12.0]
    assert ab.verdict(wide, [7.0, 13.0, 9.0, 12.5], "lower", 0.25)["bound"] == "unresolved"
    # ... unless every head run beats every base run
    assert ab.verdict(wide, [1.0, 2.0, 1.5, 1.2], "lower", 0.25)["bound"] == "within"
    # a ratio pinned at 1.0 on both sides
    v = ab.verdict([1.0] * 4, [1.0] * 4, "higher", 0.02)
    assert (v["wins"], v["gain"], v["bound"], v["spread"]) == (0, False, "within", "steady")


def test_spread_judges_both_sides_against_the_base_median():
    base = [100.0, 104.0, 96.0, 100.0]
    # every head run beats every base run, but the head's quartiles lie
    # further apart than 25% of the base median: too wide to tell
    v = ab.verdict(base, [150.0, 200.0, 100.0, 160.0], "higher", 0.25)
    assert v["head_iqr"] > 25.0 and v["spread"] == "too wide"
    v = ab.verdict(base, [150.0, 156.0, 144.0, 150.0], "higher", 0.25)
    assert v["spread"] == "steady"
    assert ab.verdict([6.0, 14.0, 8.0, 12.0], [1.0, 2.0, 1.5, 1.2],
                      "lower", 0.25)["spread"] == "too wide"
