"""The scripts in tools/: each one imports, and the A/B runner's verdicts
(tools/ab.py) follow its stated rules on synthetic runs."""

from __future__ import annotations

import glob
import importlib
import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
NAMES = sorted(os.path.basename(p)[:-3] for p in glob.glob(os.path.join(TOOLS, "*.py")))


@pytest.mark.parametrize("name", NAMES)
def test_tool_imports(name):
    # a dangling import (a helper renamed in bench.py, a deleted sibling
    # tool) fails here, not on the next manual run; importing must not run
    # the tool, so each one keeps its work under a __main__ guard
    path, modules = list(sys.path), set(sys.modules)
    sys.path[:0] = [TOOLS, ROOT]
    try:
        importlib.import_module(name)
    finally:
        sys.path[:] = path
        for tool in set(NAMES) - modules:
            sys.modules.pop(tool, None)


_spec = importlib.util.spec_from_file_location("ab", os.path.join(TOOLS, "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

BASE = [10.0 + 0.1 * i for i in range(10)]  # median 10.45, q3 - q1 0.55


def test_nine_of_ten_wins_and_a_wide_gap_meet_the_claim():
    change = [b - 2.0 for b in BASE[:9]] + [BASE[9] + 1.0]
    s = ab.compare(BASE, change, "lower", 0.25)
    assert (s["wins"], s["losses"], s["ties"]) == (9, 1, 0)
    assert s["claim_met"] and not s["regressed"] and not s["unresolved"]
    # the same runs, read as a metric where higher is better, lose
    s = ab.compare(BASE, change, "higher", 0.25)
    assert (s["wins"], s["losses"]) == (1, 9) and not s["claim_met"]


def test_eight_of_ten_wins_do_not_meet_the_claim():
    change = [b - 2.0 for b in BASE[:8]] + [b + 1.0 for b in BASE[8:]]
    s = ab.compare(BASE, change, "lower", 0.25)
    assert s["wins"] == 8 and not s["claim_met"]


def test_a_gap_inside_the_base_spread_does_not_meet_the_claim():
    change = [b - 0.5 for b in BASE]
    s = ab.compare(BASE, change, "lower", 0.25)
    assert s["wins"] == 10 and s["base_iqr"] > 0.5 and not s["claim_met"]


def test_ties_count_for_neither_side():
    # 8 wins and 2 ties of 10 pairs: 8/10, not 8/8
    change = [b - 2.0 for b in BASE[:8]] + BASE[8:]
    s = ab.compare(BASE, change, "lower", 0.25)
    assert (s["wins"], s["losses"], s["ties"]) == (8, 0, 2)
    assert not s["claim_met"]


def test_a_median_worse_by_more_than_the_bound_regressed():
    base = [100.0, 101.0, 99.0, 100.5, 99.5]
    assert ab.compare(base, [115.0] * 5, "lower", 0.1)["regressed"]
    assert not ab.compare(base, [105.0] * 5, "lower", 0.1)["regressed"]
    assert ab.compare(base, [85.0] * 5, "higher", 0.1)["regressed"]


def test_a_base_spread_wider_than_the_bound_is_unresolved():
    base = [50.0, 150.0, 80.0, 120.0, 100.0, 60.0, 140.0, 90.0, 110.0, 70.0]
    s = ab.compare(base, [b + 1.0 for b in base[::-1]], "lower", 0.1)
    assert s["unresolved"]
    # unless every change run beats every base run
    s = ab.compare(base, [30.0] * 10, "lower", 0.1)
    assert not s["unresolved"] and s["claim_met"]


def test_per_layer_metrics_get_counts_but_no_verdict():
    s = ab.compare(BASE, [b - 2.0 for b in BASE], "lower", None)
    assert s["wins"] == 10
    assert not {"claim_met", "regressed", "unresolved"} & set(s)


def _run(value, attempted=16, failed=0):
    return {"metrics": {"setup_s": value}, "attempted": attempted, "failed": failed}


def test_a_larger_failed_share_is_flagged():
    metrics = [{"name": "setup_s", "better": "lower", "bound": 0.25}]
    pairs = [{"base": _run(b), "change": _run(b, failed=int(i == 3))}
             for i, b in enumerate(BASE)]
    s = ab.summarize(pairs, metrics)
    assert s["failed_share"] == {"base": 0.0, "change": 1 / 160, "more_failures": True}
    assert s["metrics"]["setup_s"]["ties"] == 10
    pairs = [{"base": p["change"], "change": p["base"]} for p in pairs]
    assert not ab.summarize(pairs, metrics)["failed_share"]["more_failures"]
