#!/usr/bin/env python3
"""Run one workload over several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload query --seeds 1-10 [--trace 1] [--out FILE]

Prints, per metric, the median and the spread: the distance between the
first and third quartiles (statistics.quantiles(values, n=4)) as a share
of the median, which is how BENCHMARK.json's bounds are checked. --out
writes every run's metrics and the summary as JSON. Run from the root of
a source checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"), "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs, metrics = [], {}
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", args.seconds, "--trace", args.trace],
                           capture_output=True, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            result = {}
        notes = dict(ln.split()[:2] for ln in lines[:-1] if len(ln.split()) == 3)
        runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall,
                     "result": result, "host_steal_share": notes.get("host_steal_share")})
        print(f"seed {seed} exit {p.returncode} wall {wall:.1f}s "
              f"correct {result.get('correct')} failed {result.get('failed')} "
              f"steal {notes.get('host_steal_share')}", flush=True)
        if p.returncode:
            print(p.stderr[-2000:], file=sys.stderr)
        for name, m in result.get("metrics", {}).items():
            metrics.setdefault(name, []).append(m["value"])
    table = {name: summary(vs) for name, vs in metrics.items()}
    for name, s in table.items():
        print(f"{name:42s} median {s['median']:12.6g} spread {s['spread']:6.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": int(args.trace),
                       "runs": runs, "summary": table}, f, indent=1)
    return 0 if runs and all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
