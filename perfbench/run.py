#!/usr/bin/env python3
"""sparkbm25 benchmark: one workload per run, every metric with its unit.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Workloads: query and ingest
(see workloads.py, README.md and BENCHMARK.json). --trace 0 prints the
end-to-end metrics; --trace 1 enables the Spark UI, records spans
around every public call and prints the per-layer metrics instead.
Human-readable lines come first; the last line of stdout is one JSON
object {correct, attempted, failed, metrics}. The exit code is 0 only
when every answer checked was correct.

Everything the run writes (inputs, oracle answers, indexes, Spark
scratch, spans, full results) goes under .perfbench/ in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# a hung Spark job must not outlive the 180 s a run may take
WATCHDOG_S = 170
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "batch_queries_per_s": "1/s",
    "build_turns_per_s": "1/s",
    "index_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def make_session(trace: bool):
    from pyspark.sql import SparkSession

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("sparkbm25-perfbench")
        # bench.py's session settings, sized for a 4-core host
        .config("spark.sql.shuffle.partitions", str(CORES * 4))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.files.openCostInBytes", "128m")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", local)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if trace else "false")
    )
    if trace:
        b = (b.config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.ui.port", "0"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=20)
            except Exception:   # noqa: BLE001 - last resort on shutdown
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def kill_tree() -> None:
    from memwatch import tree

    for pid in tree(os.getpid()):
        if pid != os.getpid():
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def watchdog() -> None:
    print(f"perfbench: run exceeded {WATCHDOG_S}s, aborting", file=sys.stderr)
    kill_tree()
    os._exit(3)


def percentile(xs: list[float], p: float) -> float:
    import numpy as np

    return float(np.percentile(xs, p)) if xs else float("nan")


def per_s(n: int, ms: list[float]) -> float:
    return n / (sum(ms) / 1e3) if ms else float("nan")


def end_to_end(ctx) -> dict[str, float]:
    from layers import index_bytes

    return {
        "setup_s": ctx.setup_end - T_START - ctx.excluded_at_setup,
        "query_p50_ms": percentile(ctx.driver_ms, 50),
        "batch_queries_per_s": per_s(ctx.batch_queries, ctx.batch_ms),
        "build_turns_per_s": ctx.write_turns / ctx.write_s if ctx.write_s else float("nan"),
        "index_bytes_per_input_byte":
            sum(index_bytes(ctx.index_root).values()) / max(ctx.input_bytes, 1),
        "peak_rss_mb": ctx.mem.peak_mb,
    }


def notes(ctx, workload: str, e2e: dict) -> dict[str, tuple[float, str]]:
    """Sample counts and the workload's own named figures, printed
    beside the shared metrics."""
    # the tails are printed, not gated: they are taken over every search,
    # contended passes included, and across seeds their spread on a
    # shared 4-core host reaches the largest allowed bound
    out = {"query_p90_ms": (percentile(ctx.driver_raw_ms, 90), "ms"),
           # one pass's median, contention included
           "query_p50_raw_ms": (percentile(ctx.driver_raw_ms, 50), "ms"),
           "driver_queries": (len(ctx.driver_ms), "count"),
           "driver_searches": (len(ctx.driver_raw_ms), "count"),
           "batch_calls": (len(ctx.batch_ms), "count"),
           "failed_share": (ctx.failed / max(ctx.attempted, 1), "ratio"),
           "host_steal_share": (ctx.steal_share, "ratio"),
           "jvm_peak_rss_mb": (ctx.mem.jvm_peak_mb, "MB"),
           "worker_peak_rss_mb": (ctx.mem.worker_peak_mb, "MB"),
           # one closed-loop client: 1 / mean latency, which the few
           # queries that start a Spark job dominate
           "query_qps": (per_s(len(ctx.driver_raw_ms), ctx.driver_raw_ms), "1/s")}
    if len(ctx.driver_raw_ms) >= 200:
        out["query_p95_ms"] = (percentile(ctx.driver_raw_ms, 95), "ms")
    if workload == "ingest":
        appends = [b["span"].seconds for b in ctx.builds[1:] if b["name"] == "update_index"]
        comp = [b["span"].seconds for b in ctx.builds if b["name"] == "compact_generations"]
        out["append_p50_s"] = (statistics.median(appends) if appends else float("nan"), "s")
        out["fresh_query_p50_ms"] = (e2e["query_p50_ms"], "ms")
        out["fresh_query_p90_ms"] = out["query_p90_ms"]
        out["compact_s"] = (comp[0] if comp else float("nan"), "s")
    total = sum(ctx.routes.values())
    for route, c in sorted(ctx.routes.items()):
        out[f"route_share.{route}"] = (c / total, "ratio")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sparkbm25  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import layers
    from tracing import Tracer, TreeMemory, spark_stage_metrics
    from workloads import WORKLOADS, Context
    import gates

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    timer = threading.Timer(WATCHDOG_S, watchdog)
    timer.daemon = True
    timer.start()
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(WORK, exist_ok=True)

    mem = TreeMemory().start()
    tracer = Tracer(bool(args.trace))
    t_session = time.perf_counter()
    spark = make_session(bool(args.trace))
    phases = {"python.start": t_session - T_START,
              "spark.session_start": time.perf_counter() - t_session}
    tracer.bind(spark)
    tracer.instrument()
    ctx = Context(spark, tracer, mem, args.seed, args.seconds, WORK)
    correct, error = True, None
    try:
        WORKLOADS[args.workload](ctx)
    except gates.GateError as e:
        correct, error = False, str(e)
    except Exception:   # noqa: BLE001 - a broken run is reported, not hidden
        correct, error = False, traceback.format_exc()
    if ctx.timed_end is None:
        ctx.end_timed()
    groups = spark_stage_metrics(spark) if args.trace else {}
    e2e = end_to_end(ctx) if ctx.setup_end else {}
    per_layer = (layers.per_layer(ctx, groups, e2e, END_TO_END, T_START, phases)
                 if args.trace and e2e else {})
    stop_session(spark)
    timer.cancel()
    if error:
        print(f"perfbench: {args.workload} seed {args.seed}: {error}", file=sys.stderr)
    if ctx.gated == 0 and correct:
        correct, error = False, "no answer was checked"
        print("perfbench: no answer was checked", file=sys.stderr)
    if not e2e:
        ctx.close()
        return 1
    extra = notes(ctx, args.workload, e2e)

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace}")
    print(f"config_hash {ctx.cfg.config_hash()}")
    for name, h in sorted(ctx.inputs.items()):
        print(f"input_hash.{name} {h}")
    print(f"answers_checked {ctx.gated}")
    for name, v in e2e.items():
        print(f"{name} {v:.6g} {END_TO_END[name]}")
    for name, (v, unit) in extra.items():
        print(f"{name} {v:.6g} {unit}")
    if args.trace:
        for name, (v, unit) in per_layer.items():
            print(f"{name} {v:.6g} {unit}")
        layers.print_ledger(ctx, groups, T_START, phases)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
                    T_START)
    metrics = (per_layer if args.trace
               else {k: (v, END_TO_END[k]) for k, v in e2e.items()})
    missing = sorted(k for k, (v, _) in metrics.items() if not math.isfinite(v))
    if missing:
        # a phase whose every call failed leaves its metrics unmeasured
        correct = False
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
    result = {
        "correct": bool(correct),
        "attempted": int(ctx.attempted),
        "failed": int(ctx.failed),
        "metrics": {k: {"value": float(v) if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({**result, "inputs": ctx.inputs, "config_hash": ctx.cfg.config_hash(),
                   "notes": {k: v for k, (v, _) in extra.items()},
                   "end_to_end": e2e, "error": error, "driver_ms": ctx.driver_ms,
                   "driver_raw_ms": ctx.driver_raw_ms, "batch_ms": ctx.batch_ms}, f, indent=1)
    ctx.close()
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
