"""The layer map: for each per-layer metric in BENCHMARK.json, the
end-to-end metric it should move and the workloads that cross its layer.

BENCHMARK.json at the repository root holds the workloads, the metric
names, units and bounds; BENCHMARK.json cannot hold this map, so it lives
here (a self-test checks the two name the same metrics). The run settings
(corpus size, cache budget, batch sizes, client count, closed loop) are
the constants at the top of run.py.

The end-to-end metrics are the same on every workload: ``qps`` counts
queries answered by search_many batches (batch) or HTTP replies (daemon),
and every run also pays one cold build + save of its corpus, which gives
the build metrics. Both workloads are closed loops of 4 clients, so their
mean latency is 4 / ``qps``.
"""

from __future__ import annotations

import json
import os

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

BOTH = ("batch", "daemon")
DAEMON = ("daemon",)
INDEX_TABLES = (
    "blocks", "doc_blocks", "doc_meta", "term_stats", "docstore", "stats",
    "math_postings", "math_lr",
)

# per-layer metric -> (end-to-end metric it should move, workloads that cross it)
LAYER_MAP = {
    "session.start_s": ("setup_s", BOTH),
    "sources.scan_s": ("build_docs_per_s", BOTH),
    "sources.input_bytes": ("build_docs_per_s", BOTH),
    "docids.assign_s": ("build_docs_per_s", BOTH),
    "docids.shuffle_write_bytes": ("build_docs_per_s", BOTH),
    "blocks.invert_pack_s": ("build_docs_per_s", BOTH),
    "blocks.executor_run_s": ("build_docs_per_s", BOTH),
    "blocks.task_max_over_median": ("build_docs_per_s", BOTH),
    "blocks.postings": ("build_docs_per_s", BOTH),
    "blocks.block_bytes": ("index_bytes_per_input_byte", BOTH),
    "build.stats_s": ("build_docs_per_s", BOTH),
    "math_index.subpaths_s": ("build_docs_per_s", BOTH),
    "math_index.lr_s": ("build_docs_per_s", BOTH),
    "math_index.rows": ("build_docs_per_s", BOTH),
    "build.save_s": ("build_docs_per_s", BOTH),
    **{f"build.bytes_written.{t}": ("index_bytes_per_input_byte", BOTH) for t in INDEX_TABLES},
    "build.files_written": ("index_bytes_per_input_byte", BOTH),
    "build.load_s": ("setup_s", BOTH),
    "cache.build_s": ("setup_s", DAEMON),
    "cache.hot_terms": ("qps", DAEMON),
    "cache.bytes_used": ("qps", DAEMON),
    "cache.term_hit_ratio": ("qps", DAEMON),
    "serve.resolve_s": ("qps", BOTH),
    "serve.df_misses": ("qps", BOTH),
    "serve.kernel_s": ("qps", BOTH),
    "serve.executor_run_s": ("qps", BOTH),
    "serve.tasks": ("qps", BOTH),
    "serve.scan_bytes": ("qps", BOTH),
    "serve.shuffle_bytes": ("qps", BOTH),
    "spark.jobs_per_batch": ("qps", BOTH),
    "searchd.batch_size": ("qps", DAEMON),
    "searchd.queue_wait_ms": ("qps", DAEMON),
    "engine.many_ms": ("qps", DAEMON),
    "engine.search_ms": ("qps", DAEMON),
    "engine.docstore_ms": ("qps", DAEMON),
    "snippet.render_ms": ("qps", DAEMON),
    "spark.jobs_per_request": ("qps", DAEMON),
    "spark.job_floor_ms": ("qps", BOTH),
    "math_search.mixed_ms": ("qps", DAEMON),
    "math_search.jobs_per_query": ("qps", DAEMON),
    "trace.overhead_pct": ("none", BOTH),
    "trace.build_coverage_pct": ("none", BOTH),
    "trace.serve_coverage_pct": ("none", BOTH),
}


def benchmark() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)
