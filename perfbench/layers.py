"""Per-layer metrics of a traced run, named after the program modules
they measure, and the ledger that splits the run's wall time by layer.

Sources: the spans recorded around public calls (tracing.Tracer), the
Spark stage metrics of each call's job group, the build manifests the
program writes (catalog.read_manifest) and the index files on disk.
A workload that does no work in a layer reports 0 for it.
"""

from __future__ import annotations

import os
import statistics

# span name -> the layer its self time belongs to
LAYER_OF = {
    "build_index": "build",
    "update_index": "streaming",
    "compact_generations": "compact",
    "Searcher": "search.construct",
    "Searcher.refresh": "search.refresh",
    "Searcher.search": "search",
    "batch_call": "batch.merge",
    "search_batch": "batch.plan",
    "collect": "batch.execute",
    "parse_query_string": "querystring",
    "LocalParquetIndex.read": "localio",
    "read_manifest": "catalog",
}
ROUTES = ("maxscore", "dense", "and", "filtered", "or_merge", "batch", "wand", "None")
BUILD_OPS = ("build_index", "update_index")


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _stage_seconds(manifest) -> dict[str, float]:
    return manifest.groupby("stage")["seconds"].sum().to_dict()


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total


def index_bytes(root: str) -> dict[str, int]:
    """On-disk bytes of the searchable index parts, over all live
    generations of `root`."""
    gens = [os.path.join(root, d) for d in os.listdir(root) if d.startswith("gen=")]
    out = {"segments": 0, "docs": 0, "terms": 0}
    for g in gens or [root]:
        for part in out:
            out[part] += dir_bytes(os.path.join(g, part))
    return out


def _children(spans) -> dict[int, list]:
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def per_layer(ctx, groups, e2e, e2e_units, t0, phases) -> dict[str, tuple[float, str]]:
    """name -> (value, unit) for every per-layer metric; `groups` are the
    Spark stage metrics per job group (tracing.spark_stage_metrics)."""
    out: dict[str, tuple[float, str]] = {}
    tracer = ctx.tracer

    def put(name, value, unit):
        out[name] = (float(value), unit)

    def grp(sp):
        return groups.get(f"op{sp.op}", {})

    kids = _children(tracer.spans)

    # ---- build (build_index, and the build inside update_index) -------
    builds = [b for b in ctx.builds if b["name"] in BUILD_OPS]
    rows = []
    for b in builds:
        m = b["manifest"]
        st = _stage_seconds(m)
        g = grp(b["span"])
        rows.append({
            "stage1_s": st.get("tf", 0.0), "segments_s": st.get("segments", 0.0),
            "terms_s": st.get("terms", 0.0),
            "other_s": b["span"].seconds - sum(st.values()),
            "exchange_records": g.get("exchange_records", 0),
            "exchange_bytes": g.get("exchange_bytes", 0),
            "exchange_records_per_posting":
                g.get("exchange_records", 0) / max(b["postings"], 1),
            "task_cpu_s": g.get("cpu_s", 0.0), "gc_s": g.get("gc_s", 0.0),
            "spill_bytes": g.get("spill_bytes", 0), "jobs": g.get("jobs", 0),
            "stages": g.get("stages", 0), "tasks": g.get("tasks", 0),
            "postings": b["postings"],
            "segment_rows": int(m.loc[m["stage"] == "segments", "n_terms"].sum()),
            "manifest_s": sum(st.values()),
        })
    units = {"exchange_records": "count", "exchange_bytes": "B",
             "exchange_records_per_posting": "ratio", "spill_bytes": "B",
             "jobs": "count", "stages": "count", "tasks": "count",
             "postings": "count", "segment_rows": "count"}
    for key in ("stage1_s", "segments_s", "terms_s", "other_s", "exchange_records",
                "exchange_bytes", "exchange_records_per_posting", "task_cpu_s", "gc_s",
                "spill_bytes", "jobs", "stages", "tasks", "postings", "segment_rows"):
        put(f"build.{key}", _med(r[key] for r in rows), units.get(key, "s"))
    sizes = index_bytes(ctx.index_root)
    put("codec.segment_bytes", sizes["segments"], "B")
    put("catalog.docs_bytes", sizes["docs"], "B")
    put("build.terms_bytes", sizes["terms"], "B")

    # ---- driver queries ----------------------------------------------
    timed = [s for s in tracer.spans if s.parent is None
             and ctx.timed_start <= s.start and s.end <= ctx.timed_end]
    searches = [s for s in timed if s.name == "Searcher.search"]
    n = max(len(searches), 1)
    parse_s = reads = read_s = read_b = probe_s = resolve_s = spark_s = self_s = 0.0
    jobs = hits = 0
    for s in searches:
        ks = kids.get(s.sid, [])
        g = grp(s)
        lio = [k for k in ks if k.name == "LocalParquetIndex.read"]
        parse_s += sum(k.seconds for k in ks if k.name == "parse_query_string")
        post = [k for k in lio if k.attrs.get("kind") == "postings"]
        reads += len(post)
        read_s += sum(k.seconds for k in post)
        read_b += sum(k.attrs.get("bytes", 0) for k in post)
        probe_s += sum(k.seconds for k in lio if k.attrs.get("kind") == "df_probe")
        resolve_s += sum(k.seconds for k in lio if k.attrs.get("kind") == "resolve")
        jobs += g.get("jobs", 0)
        spark_s += g.get("job_s", 0.0)
        self_s += s.seconds - sum(k.seconds for k in ks) - g.get("job_s", 0.0)
        hits += not lio and not g.get("jobs", 0)
    put("querystring.parse_ms", parse_s * 1e3 / n, "ms")
    put("localio.postings_reads", reads / n, "count")
    put("localio.postings_read_ms", read_s * 1e3 / n, "ms")
    put("localio.postings_read_bytes", read_b / n, "B")
    put("localio.df_probe_ms", probe_s * 1e3 / n, "ms")
    put("localio.resolve_ms", resolve_s * 1e3 / n, "ms")
    put("search.self_ms", self_s * 1e3 / n, "ms")
    put("search.cache_hit_share", hits / n if searches else 0.0, "ratio")
    put("search.spark_jobs", jobs / n, "count")
    put("search.spark_ms", spark_s * 1e3 / n, "ms")
    total_routes = sum(ctx.routes.values()) or 1
    for r in ROUTES:
        put(f"search.route.{r.lower()}", ctx.routes.get(r, 0) / total_routes, "ratio")
    put("search.route.other", sum(c for r, c in ctx.routes.items() if r not in ROUTES)
        / total_routes, "ratio")
    put("search.construct_ms", _med(s.seconds * 1e3 for s in tracer.spans
                                    if s.name == "Searcher"), "ms")
    put("search.refresh_ms", _med(s.seconds * 1e3 for s in tracer.spans
                                  if s.name == "Searcher.refresh"), "ms")
    put("localio.reads_per_fresh_query", _mean(
        sum(k.name == "LocalParquetIndex.read" for k in kids.get(f["span"].sid, []))
        for f in ctx.fresh), "count")
    put("catalog.live_generations",
        _mean(f["generations"] for f in ctx.fresh) if ctx.fresh else 1, "count")

    # ---- batch --------------------------------------------------------
    calls = [s for s in timed if s.name == "batch_call"]

    def child(s, name):
        return sum(k.seconds for k in kids.get(s.sid, []) if k.name == name)
    put("batch.plan_s", _med(child(s, "search_batch") for s in calls), "s")
    put("batch.execute_s", _med(child(s, "collect") for s in calls), "s")
    put("batch.exchange_records", _med(grp(s).get("exchange_records", 0) for s in calls),
        "count")
    put("batch.exchange_records_per_result", _med(
        grp(s).get("exchange_records", 0) / max(s.attrs.get("rows", 0), 1)
        for s in calls), "ratio")
    put("batch.scan_bytes", _med(grp(s).get("input_bytes", 0) for s in calls), "B")
    put("batch.task_s", _med(grp(s).get("run_s", 0.0) for s in calls), "s")
    put("batch.gc_s", _med(grp(s).get("gc_s", 0.0) for s in calls), "s")
    put("batch.spill_bytes", _med(grp(s).get("spill_bytes", 0) for s in calls), "B")
    put("batch.worker_peak_rss_mb", ctx.mem.worker_peak_mb, "MB")

    # ---- streaming and compaction --------------------------------------
    # appends of the timed phase (ingest's base generation is set-up)
    appends = [r for b, r in zip(builds, rows) if b["name"] == "update_index"
               and b["span"].start >= ctx.timed_start]
    put("streaming.append_build_s", _med(r["manifest_s"] for r in appends), "s")
    put("streaming.append_other_s", _med(r["other_s"] for r in appends), "s")
    comp = [b for b in ctx.builds if b["name"] == "compact_generations"]
    fold = rewritten = 0.0
    for b in comp:
        fold += sum(_stage_seconds(b["manifest"]).values())
        rewritten += sum(dir_bytes(f"{b['dir']}/{p}") for p in ("segments", "docs", "terms"))
    put("compact.fold_s", fold, "s")
    put("compact.bytes_rewritten", rewritten, "B")

    # ---- accounting ------------------------------------------------------
    led = ledger(ctx, groups, t0, phases)
    put("failed_share", ctx.failed / max(ctx.attempted, 1), "ratio")
    put("trace.run_wall_s", led["total"], "s")
    put("trace.unattributed_s", led["unattributed"], "s")
    put("trace.unattributed_share", led["unattributed"] / led["total"], "ratio")
    for name, v in e2e.items():
        put(f"trace.{name}", v, e2e_units[name])
    return out


def ledger(ctx, groups, t0, phases) -> dict[str, float]:
    """Self time per layer from process start to the end of the timed
    phase. `phases` (interpreter start, Spark session start) and the
    benchmark-side input preparation are lines of their own, and so is
    the unattributed remainder."""
    by_layer = dict(phases, **{"bench.inputs": ctx.excluded_at_setup})
    kids = _children(ctx.tracer.spans)
    top = 0.0
    for s in ctx.tracer.spans:
        if s.end > ctx.timed_end:
            continue
        if s.parent is None:
            top += s.seconds
        self_s = s.seconds - sum(k.seconds for k in kids.get(s.sid, []))
        layer = LAYER_OF.get(s.name, s.name)
        if s.name == "Searcher.search":
            job_s = groups.get(f"op{s.op}", {}).get("job_s", 0.0)
            by_layer["search.spark"] = by_layer.get("search.spark", 0.0) + job_s
            self_s -= job_s
        by_layer[layer] = by_layer.get(layer, 0.0) + self_s
    total = ctx.timed_end - t0
    attributed = sum(phases.values()) + ctx.excluded_at_setup + top
    by_layer["unattributed"] = total - attributed
    by_layer["total"] = total
    return by_layer


def print_ledger(ctx, groups, t0, phases) -> None:
    led = ledger(ctx, groups, t0, phases)
    total = led.pop("total")
    for layer, s in sorted(led.items(), key=lambda kv: -kv[1]):
        print(f"ledger {layer} {s:.4f} s {s / total:.1%}")
    print(f"ledger total {total:.4f} s")
