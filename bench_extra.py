"""Supplementary measurements for the optimization rounds (guide §1).

NOT the driver bench — bench.py is frozen for measurement. This file holds
the per-operator isolation runs cited in OPTIMIZATION_r06.md:

- per-query noop-sink timing (guide §1.4: materializes every column, no
  count()-style pruning, no collect) with setJobDescription labels;
- query-QPS decomposition (resolve_keywords / shard kernel / rank window);
- assign_doc_ids A/B (broadcast-map attach vs full-row exchange).

Usage:
  python bench_extra.py noop [query ...]       # default: bench headline set
  python bench_extra.py qps
  python bench_extra.py assign
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_DOCS, REPS.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPS = int(os.environ.get("REPS", "3"))

HEADLINE = [
    "ft_tokenize", "ft_postings", "ft_bm25_or2", "ft_bm25_and2",
    "ft_bm25_wand", "dd_exact", "dd_minhash_lsh", "dd_ngram_jaccard",
    "sim_ann_brute", "sim_ann_ivf_kmeans", "tx_quality",
    "rel_pricing_rollup", "mx_mnc_rank", "mx_mixed_total",
]


def _spark():
    from search_engine_spark.session import get_spark

    spark = get_spark("bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_noop(names: list[str]) -> None:
    from search_engine_spark.entry_queries import REGISTRY, get_index
    from search_engine_spark.operators.dedup import release

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    get_index(spark, sf_dir)  # steady state like bench.py
    out = {}
    for name in names or HEADLINE:
        fn, _ = REGISTRY[name]
        best = None
        for _ in range(REPS):
            df = fn(spark, sf_dir)
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            _noop(df)
            dt = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            release(df)
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}s", file=sys.stderr)
    print(json.dumps({"mode": "noop", "sf_dir": sf_dir, "reps": REPS, "queries": out}))


def cmd_qps() -> None:
    """Decompose the 512-query batch: keyword resolution collect, the
    shard-kernel job alone (noop over the pre-rank local rows), and the
    full search_many with the rank window."""
    from search_engine_spark.corpus import synth_corpus, vocab_word as W
    from search_engine_spark.plans.build import build_index
    from search_engine_spark.plans.query import search_many
    from search_engine_spark.plans.serve import resolve_keywords, shard_search

    n_docs = int(os.environ.get("BENCH_DOCS", "100000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark()
    corpus = synth_corpus(spark, n_docs, n_parts=max(4 * cpus, n_docs // 2500)).persist()
    corpus.count()
    idx = build_index(spark, corpus)
    idx.doc_blocks.persist().count()
    idx.term_stats.persist().count()
    base = [
        (f"{W(1)} {W(2)}", "or"), (f"{W(3)} {W(9)}", "and"), (W(40), "or"),
        (f"{W(0)} {W(7)}", "or"), (f"{W(5)} {W(6)} {W(11)}", "or"),
        (f"{W(200)} {W(300)}", "or"), (f"{W(2)} {W(4)}", "and"), (W(1000), "or"),
    ]
    workload = {
        f"q{i}_{j}": (f"{q} {W((17 * j + 23) % 4999)}" if j % 2 else f"{q} {W((31 * j + 7) % 4999)}", m)
        for j in range(64)
        for i, (q, m) in enumerate(base)
    }
    search_many(spark, idx, {"w": (W(1), "or")}).collect()  # warm
    out = {}

    def best_of(label, fn):
        best = None
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(label)
            t0 = time.time()
            fn()
            dt = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            best = dt if best is None else min(best, dt)
        out[label] = round(best, 3)
        print(f"{label}: {best:.3f}s", file=sys.stderr)

    kws = resolve_keywords(spark, idx, workload)
    best_of("resolve_keywords", lambda: resolve_keywords(spark, idx, workload))
    # kernel output BEFORE the rank window: shard_search minus its window —
    # reconstruct by calling shard_search and dropping to the pre-window
    # frame is not public; time the full thing and the collect-variant
    best_of("search_many_noop", lambda: _noop(search_many(spark, idx, workload)))
    best_of("search_many_collect", lambda: search_many(spark, idx, workload).collect())
    best_of(
        "search_many_prune_collect",
        lambda: search_many(spark, idx, workload, prune=True).collect(),
    )
    out["qps_noop"] = round(len(workload) / out["search_many_noop"], 2)
    out["qps_collect"] = round(len(workload) / out["search_many_collect"], 2)
    print(json.dumps({"mode": "qps", "n_docs": n_docs, **out}))


def cmd_assign() -> None:
    """A/B: broadcast-map attach vs full-row exchange (forced via a zero
    broadcast budget), best-of-REPS persist+count each."""
    from search_engine_spark.corpus import synth_corpus
    from search_engine_spark.operators.docids import assign_doc_ids

    n_docs = int(os.environ.get("BENCH_DOCS", "100000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark()
    corpus = synth_corpus(spark, n_docs, n_parts=max(4 * cpus, n_docs // 2500)).persist()
    corpus.count()
    out = {}
    for label, budget in (("broadcast_attach", None), ("full_row_exchange", 0)):
        best = None
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"assign:{label}")
            t0 = time.time()
            got = assign_doc_ids(corpus, "url", broadcast_budget_bytes=budget)
            got = got.select("doc_id", "url", "text").persist()
            got.count()
            dt = time.time() - t0
            got.unpersist()
            spark.sparkContext.setJobDescription(None)
            best = dt if best is None else min(best, dt)
        out[label] = round(best, 3)
        print(f"{label}: {best:.3f}s", file=sys.stderr)
    print(json.dumps({"mode": "assign", "n_docs": n_docs, **out}))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "noop"
    if mode == "noop":
        cmd_noop(sys.argv[2:])
    elif mode == "qps":
        cmd_qps()
    elif mode == "assign":
        cmd_assign()
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
