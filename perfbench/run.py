"""Benchmark of the reference workflow on ``local[<cores>]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One invocation runs one workload in this
fresh process: it starts the session, generates the inputs from the seed,
warms up for a fixed number of operations, measures whole rounds of
operations for about ``--seconds`` seconds, checks every output, stops
Spark and prints one JSON object as its last line. With ``--trace 0`` the
object holds the end-to-end metrics; with ``--trace 1`` the per-layer
metrics, from a run that alternates traced and untraced operations, so
their difference is the tracing overhead, followed by the layer probes.

Spans of a traced run are written to ``.bench_build/perfbench/traces/``.
Everything else the run writes lives under ``.bench_build/perfbench/`` and
is removed when it ends. NOTES.md explains the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# a fixed heap (-Xms = -Xmx): with a heap G1 grows at will, peak RSS differs
# by up to 0.9 GB from one JVM to the next
DRIVER_MEMORY = "1g"
# local serving requests the layer probes time, after as many untraced ones
SERVE_REQUESTS = 10


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(run_dir: str, cores: int):
    from dask_xgboost_spark.session import get_spark

    tmp = tempfile.gettempdir()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # pinned here, so SPARK_GRAFT_DRIVER_MEM cannot change the heap
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
                                             "-XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, seconds: float, trace: bool) -> dict[str, list]:
    """Run whole rounds of the workload's operations until the window is
    as close to ``seconds`` of wall time as whole rounds get: after each
    round it stops once less than half a mean round is left. Returns, per
    operation, its wall, the share of the machine's CPU the hypervisor
    stole during it, and whether it ran traced. A traced run alternates
    traced and untraced operations, flipping the pattern every round so
    that each operation of a round runs both ways, and lasts at least two
    rounds."""
    from perfbench import spans

    out: dict[str, list] = {"wall": [], "steal": [], "traced": []}
    per_round = wl.ops_per_round
    i = 0
    while True:
        wl.tracer.enabled = trace and (i % per_round + i // per_round) % 2 == 1
        with wl.tracer.span(wl.op_name, req=i, counters=True):
            ticks0 = spans.cpu_ticks()
            t0 = time.perf_counter()
            wl.op(i)
            out["wall"].append(time.perf_counter() - t0)
            out["steal"].append(spans.steal_share(ticks0, spans.cpu_ticks()))
        out["traced"].append(wl.tracer.enabled)
        i += 1
        rounds, done = divmod(i, per_round)
        walled = sum(out["wall"])
        if not done and seconds - walled < walled / rounds / 2 \
                and not (trace and rounds < 2):
            break
    wl.tracer.enabled = trace
    return out


def tracing_overhead_pct(walls: list[float], traced: list[bool], per_round: int) -> float:
    """Median over the operations of a round of (mean traced wall / mean
    untraced wall), as a percentage above 1."""
    ratios = []
    for k in range(per_round):
        on = [w for i, (w, t) in enumerate(zip(walls, traced)) if i % per_round == k and t]
        off = [w for i, (w, t) in enumerate(zip(walls, traced)) if i % per_round == k and not t]
        ratios.append(statistics.mean(on) / statistics.mean(off))
    return 100.0 * (statistics.median(ratios) - 1.0)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_probes(wl, cores: int) -> tuple[dict[str, tuple[float, str]], int, int]:
    """Per-layer costs on the workload's probe rows and model, run after
    the measured window of a traced run: scan and assemble from ``noop``
    writes of the raw and the assembled frame (medians of three; assemble's
    self time is the difference), distributed predict from three ``noop``
    writes of ``predict_proba`` (counters of the median one), and local
    serving from ``SERVE_REQUESTS`` traced local ``predict_proba`` calls
    after as many untraced ones. Returns the metrics and the (attempted,
    failed) count of the local-vs-distributed parity check."""
    from perfbench import gen, workloads

    tracer = wl.tracer
    data, clf = wl.probe_model()
    scan, both, pred = [], [], []
    for _ in range(3):
        for frame, out, name in ((data.raw, scan, "sources.scan"), (data.train, both, "assemble")):
            with tracer.span(name, counters=True):
                t0 = time.perf_counter()
                _noop_write(frame)
                out.append(time.perf_counter() - t0)
        with tracer.span("predict_proba", counters=True) as rec:
            _noop_write(clf.predict_proba(data.train))
        pred.append(rec)
    rec = sorted(pred, key=lambda r: r["end"] - r["start"])[1]
    c = rec["spark"]

    requests = gen.request_arrays(wl.seed, SERVE_REQUESTS, 256)
    answers, served = [], []
    for k in range(2 * SERVE_REQUESTS):
        tracer.enabled = k >= SERVE_REQUESTS
        with tracer.span("serve.request", req=k, counters=True) as srec:
            answers.append((k % SERVE_REQUESTS, clf.predict_proba(requests[k % SERVE_REQUESTS])))
        if srec is not None:
            served.append(srec)
    tracer.enabled = True
    failed = workloads.local_parity_failures(wl.spark, clf, requests, answers)
    sv = span_counters(served, cores)
    return {
        "sources.scan_s": (statistics.median(scan), "s"),
        "assemble.self_s": (statistics.median(both) - statistics.median(scan), "s"),
        "predict.jobs": (c["jobs"], "count"),
        "predict.task_busy_s": (c["task_busy_s"], "s"),
        "predict.busy_share": (c["task_busy_s"] / ((rec["end"] - rec["start"]) * cores), "ratio"),
        "serve.p50_ms": (1e3 * statistics.median(s["end"] - s["start"] for s in served), "ms"),
        "serve.jobs_per_req": (sv["jobs"], "count"),
        "serve.tasks_per_req": (sv["tasks"], "count"),
        "serve.executor_ms_per_req": (1e3 * sv["task_busy_s"], "ms"),
        "serve.outside_jobs_ms_per_req": (1e3 * sv["outside_jobs_s"], "ms"),
    }, len(answers), failed


def span_counters(recs: list[dict], cores: int) -> dict[str, float]:
    """Per-span means of the Spark counters of ``recs``, and their busy
    share: task busy time over (summed wall x cores)."""
    n = len(recs)
    out = {k: sum(r["spark"][k] for r in recs) / n for k in recs[0]["spark"]}
    out["busy_share"] = out["task_busy_s"] / (sum(r["end"] - r["start"] for r in recs) / n * cores)
    return out


def span_summary(tracer) -> dict[str, dict[str, float]]:
    selfs = tracer.self_times()
    out: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += selfs[s["id"]]
    return out


def run(args, run_dir: str) -> dict:
    from perfbench import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(run_dir, cores)
    session_start_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(spark)
        data_dir = os.path.join(run_dir, "data")
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, data_dir, tracer)
        wl.setup()
        setup_s = time.perf_counter() - T_PROCESS
        sc = spark.sparkContext
        gc0, cpu0 = spans.jvm_gc_s(sc), spans.cpu_ticks()
        window = measure(wl, args.seconds, bool(args.trace))
        gc_s = spans.jvm_gc_s(sc) - gc0
        steal = spans.steal_share(cpu0, spans.cpu_ticks())
        # read before the output checks, whose oracle work is not the program's
        rss = spans.peak_rss_mb(sc)
        heap = spans.jvm_heap_mb(sc)
        attempted, failed = wl.verify()
        if args.trace:
            layers, probe_attempted, probe_failed = layer_probes(wl, cores)
            attempted, failed = attempted + probe_attempted, failed + probe_failed
    finally:
        stop_session(spark)

    detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "process_s": time.perf_counter() - T_PROCESS,
              "sizes": wl.sizes(), "warmup_walls_s": wl.warmup_walls,
              "op_walls_s": window["wall"],
              "op_steal_share": window["steal"], "window_steal_share": steal,
              "peak_rss_mb": rss, "jvm_heap_mb": heap}
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        detail["spans"] = span_summary(tracer)
        op = span_counters([s for s in tracer.spans if s["name"] == wl.op_name], cores)
        metrics = {
            "session.start_s": (session_start_s, "s"),
            "op.p50_ms": (1e3 * statistics.median(
                w for w, t in zip(window["wall"], window["traced"]) if not t), "ms"),
            **layers,
            "op.jobs": (op["jobs"], "count"),
            "op.tasks": (op["tasks"], "count"),
            "op.task_busy_s": (op["task_busy_s"], "s"),
            "op.busy_share": (op["busy_share"], "ratio"),
            "op.task_deser_s": (op["task_deser_s"], "s"),
            "op.gc_s": (op["gc_s"], "s"),
            "op.shuffle_write_mb": (op["shuffle_write_mb"], "MB"),
            "op.outside_jobs_ms": (1e3 * op["outside_jobs_s"], "ms"),
            "jvm.gc_s": (gc_s, "s"),
            "trace.overhead_pct": (
                tracing_overhead_pct(window["wall"], window["traced"], wl.ops_per_round), "%"),
        }
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
        }
    print(json.dumps(detail), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dask_xgboost_spark", "__init__.py")):
        print(f"perfbench: no dask_xgboost_spark package under {ROOT}; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    # the gateway JVM, Python workers and tempfile all keep scratch files
    # inside the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
