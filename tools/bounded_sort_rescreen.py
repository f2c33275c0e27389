#!/usr/bin/env python
"""Re-screen every batch plan for bounded_sort-eligible sort tails.

The r14 screen (134 candidates, 21 taken) used "grain bounded by
construction" as the filter but — as Q-TPCH-16 showed (r15
continuation, tools/ab_tpch16.py @ 801c9f9) — rejected at least one query whose
unbounded-looking work runs BELOW the coalesce point and stays
parallel. The real eligibility condition (plans/scale.bounded_sort):

  1. the plan tail is Sort above Exchange rangepartitioning, and
  2. the segment below that Exchange, down to the next Exchange, is
     only narrow allowlisted operators ending in a FINAL HashAggregate
     with a partial phase below its own (hash) Exchange, and
  3. the SORTED GRAIN (the final aggregate's group-by keys) has a
     compile-time cardinality bound — enum/calendar/domain grains.

This tool mechanizes 1-2 from the formatted plans and prints each
match with its range-sort keys; 3 stays a per-query judgment call
(a key named c_custkey is per-key ⇒ ineligible; l_returnflag is an
enum ⇒ eligible), recorded in OPTIMIZATION_r15.md.

Run: python tools/bounded_sort_rescreen.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from dask_xgboost_spark.registry import load_all
from dask_xgboost_spark.session import get_spark

ALLOW = ("Project", "Filter", "HashAggregate", "SortAggregate", "Sort")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="bounded-sort-rescreen", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    n_ok = n_fail = 0
    hits = []
    for name, spec in specs.items():
        if spec.mode == "stream" or name.startswith(("M-TRAIN", "M-PRED")):
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — screen must finish
            n_fail += 1
            print(f"PLAN FAIL {name}: {e!r}", file=sys.stderr)
            continue
        n_ok += 1
        # tree section: ordered top-down; find Sort -> Exchange pairs
        tree = []
        for line in plan.splitlines():
            m = re.match(r"^[ :+|-]*([A-Za-z][\w ]*?) \((\d+)\)\s*$", line)
            if m:
                tree.append((m.group(1).strip(), int(m.group(2))))
            elif line.startswith("(") or line.startswith("===== Sub"):
                break
        # details: node id -> Arguments line
        args = {}
        cur = None
        for line in plan.splitlines():
            m = re.match(r"^\((\d+)\) (\w+)", line)
            if m:
                cur = int(m.group(1))
            elif cur is not None and line.startswith("Arguments:"):
                args.setdefault(cur, line[len("Arguments:"):].strip())
        # walk: Sort node whose child is Exchange rangepartitioning,
        # then only ALLOW nodes until the next Exchange (which must be
        # hashpartitioning — the final aggregate's shuffle)
        for i, (nm, nid) in enumerate(tree):
            if nm != "Sort":
                continue
            if i + 1 >= len(tree) or tree[i + 1][0] != "Exchange":
                continue
            ex_args = args.get(tree[i + 1][1], "")
            if "rangepartitioning" not in ex_args:
                continue
            seg = []
            ok = True
            saw_final_agg = False
            for nm2, nid2 in tree[i + 2:]:
                if nm2 == "Exchange":
                    ok = ok and "hashpartitioning" in args.get(nid2, "")
                    break
                seg.append(nm2)
                if nm2 not in ALLOW:
                    ok = False
                    break
                if "Aggregate" in nm2:
                    saw_final_agg = True
            else:
                ok = False  # ran off the tree (scan inside segment)
            if ok and saw_final_agg:
                keys = re.match(r"\[(.*?)\]", ex_args)
                hits.append((name, keys.group(1) if keys else ex_args, seg))
    spark.stop()
    print(f"screened {n_ok} plans, {n_fail} failures")
    for name, keys, seg in sorted(hits):
        print(f"  CANDIDATE {name}: sort keys [{keys}] segment {seg}")
    print(f"{len(hits)} structural candidates (grain judgment still required)")


if __name__ == "__main__":
    main()
