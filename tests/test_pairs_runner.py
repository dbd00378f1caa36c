"""The interleaved-pairs runner's bookkeeping (tools/pairs.py) on fixed leg
timings: no Spark session, no subprocess.

The runner is imported the way ``bench.py`` imports it (``tools/`` on
``sys.path``, then ``from pairs import ...``), so a broken import fails
here rather than in a later bench run."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from pairs import QUERIES, build_corpus, force, schedule, summarize  # noqa: E402


def _leg(total, n_docs=1000, **times):
    return {"n_docs": n_docs, "times": times or {"north_rule": total}, "total": total}


def test_bench_imports_resolve():
    assert callable(build_corpus) and callable(force)
    assert "doc_training_corpus" in QUERIES and len(set(QUERIES)) == len(QUERIES)


def test_side_order_rotates_every_round():
    assert schedule(["1", "4"], 4) == [["1", "4"], ["4", "1"], ["1", "4"], ["4", "1"]]
    rounds = schedule(["a", "b", "c"], 3)
    assert rounds == [["a", "b", "c"], ["b", "c", "a"], ["c", "a", "b"]]
    # every side leads exactly once per len(sides) rounds
    assert sorted(r[0] for r in rounds) == ["a", "b", "c"]


def test_cpus_summary():
    lows = [8.0, 9.0, 10.0, 11.0, 12.0]
    highs = [2.5, 3.0, 2.0, 2.75, 4.0]  # ratios 3.2, 3.0, 5.0, 4.0, 3.0
    legs = [{"1": _leg(a), "4": _leg(b)} for a, b in zip(lows, highs)]
    s = summarize("cpus", ["1", "4"], legs)
    assert s["median_s"] == {"1": 10.0, "4": 2.75}
    assert s["iqr_s"] == {"1": 2.0, "4": 0.5}
    assert s["ratio"] == {"4": [3.2, 3.0, 5.0, 4.0, 3.0]}
    assert s["median_ratio"] == {"4": 3.2}
    assert s["wins"] == {"4": 5}
    assert s["efficiency"] == {"4": 0.8}
    assert "growth_exponent" not in s


def test_executors_efficiency_uses_width_ratio():
    legs = [{"2": _leg(6.0), "8": _leg(2.0)}, {"2": _leg(6.0), "8": _leg(3.0)}]
    s = summarize("executors", ["2", "8"], legs)
    assert s["median_ratio"] == {"8": 2.5}
    assert s["efficiency"] == {"8": 0.625}


def test_repo_wins_count_rounds_the_side_was_faster():
    legs = [
        {"old": _leg(10.0), "new": _leg(8.0)},
        {"old": _leg(10.0), "new": _leg(12.5)},
        {"old": _leg(10.0), "new": _leg(5.0)},
    ]
    s = summarize("repo", ["old", "new"], legs)
    assert s["ratio"] == {"new": [1.25, 0.8, 2.0]}
    assert s["median_ratio"] == {"new": 1.25} and s["wins"] == {"new": 2}
    assert "efficiency" not in s and "growth_exponent" not in s
    assert s["iqr_s"]["old"] == 0.0


def test_factor_growth_exponent():
    legs = [
        {
            "1": _leg(3.0, 100, q=1.0, p=2.0),
            "2": _leg(6.0, 200, q=2.0, p=4.0),
            "4": _leg(24.0, 400, q=16.0, p=8.0),
        }
        for _ in range(3)
    ]
    s = summarize("factor", ["1", "2", "4"], legs)
    assert s["passes"] == ["q", "p"]
    assert s["n_docs"] == {"1": 100, "2": 200, "4": 400}
    assert s["growth_exponent"] == {"2": 1.0, "4": 1.5}
    assert s["pass_growth_exponent"] == {"2": {"q": 1.0, "p": 1.0}, "4": {"q": 2.0, "p": 1.0}}
    assert s["wins"] == {"2": 0, "4": 0}


def test_single_round_has_zero_spread():
    s = summarize("cpus", ["1", "2"], [{"1": _leg(4.0), "2": _leg(2.0)}])
    assert s["iqr_s"] == {"1": 0.0, "2": 0.0}
    assert s["efficiency"] == {"2": 1.0}
    assert math.isclose(s["median_ratio"]["2"], 2.0)


@pytest.mark.parametrize(
    "argv",
    [["cpus", "1"], ["cpus", "1", "1"], ["cpus", "1", "x"], ["cpus", "1", "4", "--rounds", "0"],
     ["factor", "1", "2"]],
)
def test_bad_arguments_stop_before_any_leg(argv):
    from pairs import main

    with pytest.raises(SystemExit):
        main(argv)
