"""Per-layer metrics of a traced run, from its spans (perfbench/spans.py).

Each metric is the median (or, where noted, the total) of its samples,
and the run prints the number of samples next to it. A metric of a layer
the workload does not cross is 0 with 0 samples.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import spec
from spans import covered

BUILD_LAYERS = (
    "sources.scan", "docids.assign", "blocks.plan", "build.stats", "math_index.plan",
    "build.save",
)
SERVE_LAYERS = ("query.search_many", "serve.kernel", "engine.many")


def report(run, spark, session_s: float, path: str) -> None:
    from pyspark.sql import functions as F

    t = run.tracer
    floor = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).count()
        floor.append((time.perf_counter() - t0) * 1e3)
    t.attach_stage_metrics()
    t.dump(path)

    by = defaultdict(list)
    kids = defaultdict(list)
    for rec in t.spans:
        by[rec["name"]].append(rec)
        kids[rec["parent"]].append(rec)

    def dur(rec):
        return rec["end"] - rec["start"]

    def tree(rec, key):
        return rec["spark"][key] + sum(tree(k, key) for k in kids[rec["id"]])

    out, n = run.metrics, run.samples

    def put(name, values):
        values = [v for v in values if v is not None]
        out[name] = statistics.median(values) if values else 0
        n[name] = len(values)

    def total(name, values):
        out[name] = sum(values)
        n[name] = len(values)

    put("session.start_s", [session_s])
    put("sources.scan_s", [dur(r) for r in by["sources.scan"]])
    # stage inputBytes also counts cached-block reads, so the scan's input
    # is the size of the pages table, which the build reads whole
    put("sources.input_bytes", [run.input_bytes] if by["sources.scan"] else [])
    put("docids.assign_s", [dur(r) for r in by["docids.assign"]])
    # the build's one action (collection_stats_from_blocks) runs the docID
    # range exchange and the fused tokenize/invert/pack stage; the pack
    # stage is its busiest stage
    stats = by["build.stats"]
    put("docids.shuffle_write_bytes", [
        sum(r["spark"]["shuffle_write_bytes"] for r in by["docids.assign"] + stats)
    ] if stats else [])
    pack = [r["spark"]["top_stage"] for r in stats if r["spark"]["top_stage"]]
    put("blocks.invert_pack_s", [s["wall_s"] for s in pack])
    put("blocks.executor_run_s", [s["run_ms"] / 1e3 for s in pack])
    quant = [s["task_run_ms"] for s in pack]
    put("blocks.task_max_over_median", [q[1] / q[0] for q in quant if q and q[0]])
    saved = spark.read.parquet(f"{run.index_path}/doc_blocks").where(F.col("term") != "\x00doclen")
    row = saved.agg(
        F.sum("n").alias("postings"),
        F.sum(
            F.octet_length("doc_ids_blob") + F.octet_length("tfs_blob")
            + F.octet_length("doclens_blob") + F.octet_length("positions_blob")
        ).alias("bytes"),
    ).collect()[0]
    put("blocks.postings", [row["postings"]])
    put("blocks.block_bytes", [row["bytes"]])
    put("build.stats_s", [dur(r) for r in stats])
    # the math tables are lazy until save writes them: each write span
    # runs the extraction and the write of one table
    math = by["build.write.math_postings"] + by["build.write.math_lr"]
    put("math_index.subpaths_s", [dur(r) for r in by["build.write.math_postings"]])
    put("math_index.lr_s", [dur(r) for r in by["build.write.math_lr"]])
    total("math_index.rows", [r["spark"]["output_records"] for r in math])
    put("build.save_s", [dur(r) for r in by["build.save"]])
    for table in spec.INDEX_TABLES:
        put(f"build.bytes_written.{table}", [run.index_sizes.get(table, 0)])
    put("build.files_written", [run.index_files])
    put("build.load_s", [dur(r) for r in by["build.load"]])

    put("cache.build_s", [dur(r) for r in by["cache.build"]])
    cache = run.wrappers.cache
    put("cache.hot_terms", [cache.n_hot_terms] if cache else [])
    put("cache.bytes_used", [cache.bytes_used] if cache else [])
    if cache is not None and run.sent_terms:
        hot = {r["term"] for r in cache.hot_terms.select("term").collect()}
        put("cache.term_hit_ratio", [sum(w in hot for w in run.sent_terms) / len(run.sent_terms)])
    else:
        put("cache.term_hit_ratio", [])

    windows = getattr(run, "traced_windows", [])

    def in_window(r):
        return any(a <= r["start"] and r["end"] <= b for a, b in windows)

    resolve = [r for r in by["serve.resolve"] if in_window(r)]
    put("serve.resolve_s", [dur(r) for r in resolve])
    total("serve.df_misses", [r["df_misses"] for r in resolve])
    kern = [r for r in by["serve.kernel"] if in_window(r)]
    put("serve.kernel_s", [dur(r) for r in kern])
    put("serve.executor_run_s", [r["spark"]["executor_run_ms"] / 1e3 for r in kern])
    put("serve.tasks", [r["spark"]["tasks"] for r in kern])
    put("serve.scan_bytes", [r["spark"]["input_bytes"] for r in kern])
    put("serve.shuffle_bytes", [r["spark"]["shuffle_read_bytes"] + r["spark"]["shuffle_write_bytes"] for r in kern])

    many = [r for r in by["engine.many"] if in_window(r)]
    put("searchd.batch_size", [r["n_requests"] for r in many])
    put("searchd.queue_wait_ms", [w for r in many for w in r["queue_wait_ms"]])
    put("spark.jobs_per_batch", [tree(r, "jobs") for r in by["batch.op"] + many if in_window(r)])
    put("engine.many_ms", [dur(r) * 1e3 for r in many])

    def child_ms(rec, names):
        return 1e3 * sum(dur(k) for k in kids[rec["id"]] if k["name"] in names)

    put("engine.search_ms", [child_ms(r, ("query.search_many", "serve.kernel")) for r in many])
    put("engine.docstore_ms", [child_ms(r, ("engine.docstore",)) for r in many])
    put("snippet.render_ms", [child_ms(r, ("snippet.render",)) for r in many])
    reqs = sum(r.get("n_requests", 0) for r in many)
    if reqs:
        out["spark.jobs_per_request"] = sum(tree(r, "jobs") for r in many) / reqs
        n["spark.jobs_per_request"] = reqs
    else:
        put("spark.jobs_per_request", [])
    put("spark.job_floor_ms", floor)
    q_json = [r for r in by["engine.query_json"] if any(k["name"] == "math_search.mixed" for k in kids[r["id"]])]
    put("math_search.mixed_ms", [dur(r) * 1e3 for r in q_json])
    put("math_search.jobs_per_query", [tree(r, "jobs") for r in q_json])

    put("trace.overhead_pct", [getattr(run, "overhead_pct", None)])
    b0, b1 = run.build_wall
    build_spans = [(r["start"], r["end"]) for name in BUILD_LAYERS for r in by[name]]
    put("trace.build_coverage_pct", [100.0 * covered(build_spans) / (b1 - b0)])
    # layer spans clipped to the traced quarters: operations straddle them
    inside = [
        (max(a, r["start"]), min(b, r["end"]))
        for name in SERVE_LAYERS for r in by[name] for a, b in windows
        if r["start"] < b and r["end"] > a
    ]
    span_s = sum(b - a for a, b in windows)
    put("trace.serve_coverage_pct", [100.0 * covered(inside) / span_s] if span_s else [])
