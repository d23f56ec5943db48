"""Measurement plumbing: operation timing, spans, Spark stage metrics
and process-tree memory.

Every timed call into the program goes through ``Tracer.op``. With
tracing off it only reads the clock. With tracing on it also records a
span (name, start, end, parent, operation id), tags the Spark jobs the
call starts with a job group so their stage metrics can be attributed
to it, and wraps three program functions that the public calls use
internally (query parsing, local parquet reads, manifest reads) so they
show up as child spans. Spans stay in memory and are written out once,
at the end of the run. Nothing is added inside ``sparkbm25/``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, sid, name, start, parent, op):
        self.sid, self.name, self.start = sid, name, start
        self.end = start
        self.parent, self.op, self.attrs = parent, op, {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "op": self.op,
                "attrs": self.attrs}


class Tracer:
    """Times operations; records spans only when `enabled`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextmanager
    def op(self, name: str, **attrs):
        """A top-level (or nested) timed call. Yields a Span whose
        `seconds` is valid after the block, traced or not."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next, name, 0.0, parent.sid if parent else None,
                  parent.op if parent else self._next)
        self._next += 1
        sp.attrs.update(attrs)
        if self.enabled:
            self._stack.append(sp)
            if parent is None and self._sc is not None:
                self._sc.setJobGroup(f"op{sp.op}", name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                self.spans.append(sp)
                if parent is None and self._sc is not None:
                    self._sc.setJobGroup("bench", "benchmark-side work")

    def instrument(self) -> None:
        """Wrap the program functions that public calls use internally,
        so their time shows as child spans of the calling operation."""
        if not self.enabled:
            return
        from sparkbm25 import catalog, localio, querystring

        tracer = self

        def wrap_fn(mod, attr, span_name):
            fn = getattr(mod, attr)

            def wrapped(*a, **kw):
                if not tracer._stack:
                    return fn(*a, **kw)
                with tracer.op(span_name):
                    return fn(*a, **kw)
            setattr(mod, attr, wrapped)

        wrap_fn(querystring, "parse_query_string", "parse_query_string")
        wrap_fn(catalog, "read_manifest", "read_manifest")

        read = localio.LocalParquetIndex.read

        def traced_read(ix, partitions, columns, filter=None):
            if not tracer._stack:
                return read(ix, partitions, columns, filter)
            if ix.key == "doc_block":
                kind = "resolve"
            elif "blocks" in columns:
                kind = "postings"
            else:
                kind = "df_probe"
            with tracer.op("LocalParquetIndex.read", kind=kind) as sp:
                out = read(ix, partitions, columns, filter)
            sp.attrs["bytes"] = 0 if out is None else int(out.nbytes)
            return out
        localio.LocalParquetIndex.read = traced_read

    def dump(self, path: str, t0: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = []
        for s in sorted(self.spans, key=lambda s: s.start):
            d = s.as_dict()
            d["start"] = round(d["start"] - t0, 6)
            d["end"] = round(d["end"] - t0, 6)
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f)


def spark_stage_metrics(spark, wait_s: float = 10.0) -> dict[str, dict]:
    """Per job group: summed stage metrics of the jobs it ran, read
    from the Spark UI's REST API (traced runs enable the UI). Waits for
    the status listener to see every submitted job finish."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    deadline = time.time() + wait_s
    jobs = get("/jobs")
    while any(j["status"] == "RUNNING" for j in jobs) and time.time() < deadline:
        time.sleep(0.2)
        jobs = get("/jobs")
    stages = {}
    for s in get("/stages"):
        if s["status"] in ("COMPLETE", "FAILED"):
            stages.setdefault(s["stageId"], []).append(s)
    out: dict[str, dict] = {}
    for j in jobs:
        g = out.setdefault(j.get("jobGroup") or "none", {
            "jobs": 0, "failed_jobs": 0, "job_s": 0.0, "stages": 0,
            "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "exchange_records": 0, "exchange_bytes": 0, "spill_bytes": 0,
            "input_bytes": 0})
        g["jobs"] += 1
        g["failed_jobs"] += j["status"] == "FAILED"
        if j.get("submissionTime") and j.get("completionTime"):
            g["job_s"] += _iso_s(j["completionTime"]) - _iso_s(j["submissionTime"])
        for sid in j["stageIds"]:
            for s in stages.pop(sid, []):
                g["stages"] += 1
                g["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                g["run_s"] += s.get("executorRunTime", 0) / 1e3
                g["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                g["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                g["exchange_records"] += s.get("shuffleWriteRecords", 0)
                g["exchange_bytes"] += s.get("shuffleWriteBytes", 0)
                g["spill_bytes"] += s.get("diskBytesSpilled", 0)
                g["input_bytes"] += s.get("inputBytes", 0)
    return out


def _iso_s(ts: str) -> float:
    from datetime import datetime

    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").timestamp()


class TreeMemory:
    """Peak resident memory of this process tree, sampled every `period`
    seconds by a memwatch.py child process (so sampling costs this
    interpreter nothing). `peak_mb` is the largest summed RSS seen,
    `worker_peak_mb` the largest Python-worker high-water mark, and
    `jvm_peak_mb` the largest JVM RSS; all are valid after stop(). A
    peak of the sum shorter than the period can be missed; the
    per-worker high-water mark cannot."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = self.worker_peak_mb = self.jvm_peak_mb = 0.0
        self._proc = None

    def start(self) -> "TreeMemory":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "memwatch.py"),
             str(os.getpid()), str(self.period)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def stop(self) -> None:
        if self._proc is None:
            return
        out, _ = self._proc.communicate(input="", timeout=30)
        self._proc = None
        self.peak_mb, self.worker_peak_mb, self.jvm_peak_mb = map(float, out.split())
