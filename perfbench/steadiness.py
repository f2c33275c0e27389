"""Run one workload of the benchmark over several seeds and report, per
metric, the median and the spread between the first and third quartile
as a share of the median (``statistics.quantiles(values, n=4)``), next
to the metric's bound from BENCHMARK.json.

    python3 perfbench/steadiness.py --workload NAME --seeds 1-10 [--trace 1] [--out FILE]

Run from the root of a checkout. Each run is a separate process, exactly
as ``BENCHMARK.json``'s command runs it.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / abs(med) if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    kind = "per_layer" if args.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in bench[kind]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result.update(seed=seed, wall_s=wall,
                      detail=json.loads(proc.stderr.strip().splitlines()[-1]))
        runs.append(result)
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} {vals}", flush=True)
    summary = {}
    for name, bound in bounds.items() if len(runs) > 1 else ():
        med, rel = spread([r["metrics"][name]["value"] for r in runs])
        summary[name] = {"median": med, "iqr_share": rel, "bound": bound}
        flag = "" if bound is None else ("ok" if rel < bound / 3 else "WIDE")
        print(f"{name:24s} median {med:12.4f}  iqr/median {rel:7.4f}  bound {bound}  {flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "run_seconds": bench["run_seconds"], "summary": summary,
                       "runs": runs}, fh, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
