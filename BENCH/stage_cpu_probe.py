#!/usr/bin/env python
"""Per-stage CPU accounting for the scaling analysis: run ONE index
build at local[$SPARK_GRAFT_CPUS] with the Spark UI enabled, then dump
each stage's executorCpuTime / executorRunTime from the REST API.

The point: identical work at higher thread counts consuming MORE
CPU-seconds is the signature of a shared memory-bandwidth ceiling
(threads stall on loads; cycles are burned, not work). Comparing the
dominant stages' CPU totals at 2 vs 8 threads quantifies the host
inflation that the wall-clock efficiency number absorbs.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ensure_input  # noqa: E402


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "2"))
    n_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "2400000"))
    from pyspark.sql import SparkSession

    from sparkbm25 import IndexConfig, build_index

    shm = "/dev/shm/sparkbm25_probe"
    os.makedirs(shm, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"stage-cpu-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 4, 16)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .config("spark.local.dir", os.path.join(shm, "local"))
        .config("spark.driver.memory", "48g")
        # match bench.py's job shape exactly so the CPU-inflation
        # correction maps onto the scaling legs: zstd shuffle blocks,
        # UDS Arrow IPC, one input file per scan partition
        .config("spark.io.compression.codec", "zstd")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.files.openCostInBytes", "128m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    input_path = ensure_input(n_turns)
    cfg = IndexConfig(n_term_buckets=32, n_salt_buckets=8, n_build_chunks=1,
                      n_doc_partitions=max(cpus, 8),
                      checkpoint_runs=False, build_terms_dict=False,
                      input_order=os.environ.get("SPARK_GRAFT_INPUT_ORDER",
                                                 "verify"))
    idx = os.path.join(shm, f"idx_{cpus}")
    import shutil

    shutil.rmtree(idx, ignore_errors=True)
    t0 = time.time()
    build_index(spark, spark.read.parquet(input_path), idx, cfg,
                input_desc="probe")
    wall = time.time() - t0

    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4049/api/v1/applications/{app_id}/stages"
    stages = json.loads(urllib.request.urlopen(url).read())
    rows = []
    for s in stages:
        if s.get("status") != "COMPLETE":
            continue
        rows.append({
            "stage": s["stageId"],
            "name": s["name"].split("\n")[0][:60],
            "tasks": s["numCompleteTasks"],
            "cpu_s": round(s.get("executorCpuTime", 0) / 1e9, 1),
            "run_s": round(s.get("executorRunTime", 0) / 1e3, 1),
            "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
            "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "shuffle_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
        })
    rows.sort(key=lambda r: -r["cpu_s"])
    out = {"cpus": cpus, "n_turns": n_turns, "wall_s": round(wall, 1),
           "total_cpu_s": round(sum(r["cpu_s"] for r in rows), 1),
           "stages": rows[:8]}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
