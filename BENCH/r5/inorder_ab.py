#!/usr/bin/env python
"""Same-JVM A/B for input_order='verify' (skip the stage-1 full-text
range shuffle; prove sortedness instead): alternating builds on the
bench input (sorted, non-overlapping cached parquet files), packed
runs on both arms.

Usage: python BENCH/r5/inorder_ab.py [reps] [cpus]
Writes BENCH/r5/inorder_ab.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, REPO)


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    n_turns = 960_000
    probe = json.loads(subprocess.run(
        [sys.executable, os.path.join(REPO, "BENCH", "host_probe.py")],
        capture_output=True, text=True).stdout)

    import bench
    from pyspark.sql import SparkSession

    from sparkbm25 import IndexConfig, build_index

    input_path = bench.ensure_input(n_turns)
    shm = "/dev/shm/inorder_ab"
    os.makedirs(shm, exist_ok=True)
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("inorder-ab")
             .config("spark.sql.shuffle.partitions", str(max(cpus * 4, 16)))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.io.compression.codec", "zstd")
             .config("spark.ui.enabled", "false")
             .config("spark.local.dir", os.path.join(shm, "local"))
             .config("spark.driver.memory", "48g")
             .config("spark.python.unix.domain.socket.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.read.parquet(input_path)

    def build_once(order: str) -> float:
        cfg = IndexConfig(n_term_buckets=32, n_salt_buckets=8,
                          n_build_chunks=1, n_doc_partitions=max(cpus, 8),
                          checkpoint_runs=False, build_terms_dict=False,
                          input_order=order)
        idx = os.path.join(shm, "idx")
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        build_index(spark, src, idx, cfg)
        return round(time.time() - t0, 2)

    build_once("shuffle")
    build_once("verify")
    times = {"shuffle": [], "verify": []}
    for _ in range(reps):
        for order in ("shuffle", "verify"):
            times[order].append(build_once(order))
    s_min, v_min = min(times["shuffle"]), min(times["verify"])
    result = {
        "cpus": cpus, "n_turns": n_turns, "host_probe": probe,
        "build_seconds": times,
        "best": {"shuffle": s_min, "verify": v_min},
        "best_turns_per_sec": {"shuffle": round(n_turns / s_min, 1),
                               "verify": round(n_turns / v_min, 1)},
        "speedup_verify_best": round(s_min / v_min, 3),
        "pairwise_shuffle_over_verify": [
            round(s / v, 3) for s, v in zip(times["shuffle"], times["verify"])],
    }
    with open(os.path.join(REPO, "BENCH", "r5", "inorder_ab.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    shutil.rmtree(shm, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
