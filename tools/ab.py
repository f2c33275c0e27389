#!/usr/bin/env python
"""Paired A/B of the benchmark: BENCHMARK.json's command, run in
alternating pairs on a base revision and on this checkout.

    python3 tools/ab.py --base REV --workload W [--pairs 10] [--trace 0|1]

The base side is a detached ``git worktree`` of REV under
``.bench_build/ab/<sha>``, removed when the runner ends. The change side
is this checkout as it stands, uncommitted edits included. Every run is
a fresh process whose working directory is its own tree, so each side
runs its own ``perfbench/run.py`` and its own package. Pair i runs seed
i + 1 on both sides, and the side that runs first alternates from pair
to pair. The command, the run length, the metrics, which way each is
better and its bound all come from BENCHMARK.json: ``--trace 0`` compares
the end-to-end metrics, ``--trace 1`` the per-layer ones.

The table on stderr gives, per pair, every metric on both sides with the
change - base delta, each run's correct / attempted / failed counts and,
from its stderr detail line, the window's steal share and the median
operation wall. Per metric it then gives both medians, the base's
q3 - q1, and the change's wins, losses and ties; a tie counts for
neither side. An end-to-end metric also gets three verdicts:

- ``claim met``: the change wins at least 9 in 10 of all pairs and the
  medians differ its way by more than the base's q3 - q1;
- ``regressed``: the change's median is worse than the base's by more
  than the bound (a share of the base's median);
- ``unresolved``: the base's own spread, (q3 - q1) / median, is wider
  than the bound, and not every change run beats every base run.

A per-layer metric has no bound and gets no verdict. The share of
failed operations is given for each side, and flagged when the change's
is larger. The last stdout line is one JSON object holding every run
and the summary. The runner exits non-zero if any run exits non-zero or
prints no JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.steadiness import spread  # noqa: E402

SIDES = ("base", "change")


def compare(base: list[float], change: list[float], better: str,
            bound: float | None) -> dict:
    """One metric over paired runs: ``base[i]`` and ``change[i]`` ran the
    same seed. Verdicts only when the metric has a bound."""
    sign = 1 if better == "higher" else -1
    gains = [sign * (c - b) for b, c in zip(base, change)]
    base_median, base_share = spread(base)
    change_median, _ = spread(change)
    q1, _, q3 = statistics.quantiles(base, n=4)
    out = {"base_median": base_median, "change_median": change_median,
           "base_iqr": q3 - q1,
           "wins": sum(g > 0 for g in gains), "losses": sum(g < 0 for g in gains),
           "ties": sum(g == 0 for g in gains)}
    if bound is None:
        return out
    gain = sign * (change_median - base_median)
    every_run_better = min(sign * c for c in change) > max(sign * b for b in base)
    out.update(bound=bound,
               claim_met=10 * out["wins"] >= 9 * len(gains) and gain > q3 - q1,
               regressed=-gain > bound * abs(base_median),
               unresolved=base_share > bound and not every_run_better)
    return out


def failed_share(runs: list[dict]) -> float:
    attempted = sum(r["attempted"] for r in runs)
    return sum(r["failed"] for r in runs) / attempted if attempted else 0.0


def summarize(pairs: list[dict], metrics: list[dict]) -> dict:
    """Per metric of ``metrics`` (BENCHMARK.json entries), ``compare`` over
    the pairs; then each side's failed-operation share."""
    shares = {side: failed_share([p[side] for p in pairs]) for side in SIDES}
    return {
        "metrics": {m["name"]: compare([p["base"]["metrics"][m["name"]] for p in pairs],
                                       [p["change"]["metrics"][m["name"]] for p in pairs],
                                       m["better"], m.get("bound"))
                    for m in metrics},
        "failed_share": {**shares, "more_failures": shares["change"] > shares["base"]},
    }


def git(*args: str) -> str:
    proc = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True)
    if proc.returncode:
        raise SystemExit(f"git {' '.join(args)}: {proc.stderr.strip()}")
    return proc.stdout.strip()


def last_json(text: str, stream: str, label: str) -> dict:
    lines = text.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        raise SystemExit(f"{label}: no JSON line on {stream}") from None


def run_once(bench: dict, tree: str, workload: str, seed: int, trace: int,
             label: str) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=900)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{label}: no result in 900 s") from None
    wall = time.perf_counter() - t0
    if proc.returncode:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{label}: exit code {proc.returncode}")
    result = last_json(proc.stdout, "stdout", label)
    detail = last_json(proc.stderr, "stderr", label)
    return {"wall_s": wall, "correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "window_steal_share": detail["window_steal_share"],
            "op_wall_median_s": statistics.median(detail["op_walls_s"])}


def print_pair(pair: dict) -> None:
    err = sys.stderr
    print(f"pair {pair['seed']}  first {pair['first']}", file=err)
    for name, delta in pair["delta"].items():
        b, c = pair["base"]["metrics"][name], pair["change"]["metrics"][name]
        print(f"  {name:32s} base {b:12.4f}  change {c:12.4f}  delta {delta:+12.4f}", file=err)
    for side in SIDES:
        r = pair[side]
        print(f"  {side:6s} correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} steal={r['window_steal_share']:.4f} "
              f"op_wall_median={r['op_wall_median_s']:.4f}s wall={r['wall_s']:.1f}s", file=err)
    err.flush()


def print_summary(summary: dict) -> None:
    err = sys.stderr
    print(f"{'metric':32s} {'base med':>12s} {'change med':>12s} {'base q3-q1':>12s}"
          "  wins/losses/ties  verdict", file=err)
    for name, s in summary["metrics"].items():
        flags = [label for key, label in (("claim_met", "claim met"), ("regressed", "regressed"),
                                          ("unresolved", "unresolved")) if s.get(key)]
        verdict = ", ".join(flags) or ("no regression" if "bound" in s else "-")
        print(f"{name:32s} {s['base_median']:12.4f} {s['change_median']:12.4f} "
              f"{s['base_iqr']:12.4f}  {s['wins']:>4d}/{s['losses']}/{s['ties']}"
              f"{'':8s}{verdict}", file=err)
    f = summary["failed_share"]
    print(f"failed share: base {f['base']:.4f}  change {f['change']:.4f}"
          + ("  MORE FAILURES" if f["more_failures"] else ""), file=err)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2: quartiles need two runs a side")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["per_layer" if args.trace else "end_to_end"]
    names = [m["name"] for m in metrics]
    sha = git("rev-parse", "--verify", f"{args.base}^{{commit}}")
    trees = {"base": os.path.join(ROOT, ".bench_build", "ab", sha), "change": ROOT}
    git("worktree", "add", "--detach", trees["base"], sha)
    pairs = []
    try:
        for i in range(args.pairs):
            seed = i + 1
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(bench, trees[side], args.workload, seed, args.trace,
                                      f"{side} seed {seed}")
            pair["delta"] = {n: pair["change"]["metrics"][n] - pair["base"]["metrics"][n]
                             for n in names}
            pairs.append(pair)
            print_pair(pair)
    finally:
        git("worktree", "remove", "--force", trees["base"])
    summary = summarize(pairs, metrics)
    print_summary(summary)
    print(json.dumps({"base": sha, "workload": args.workload, "trace": args.trace,
                      "run_seconds": bench["run_seconds"], "pairs": pairs,
                      "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
