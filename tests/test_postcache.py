"""Budgeted posting cache (reference indices/postcache.c semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.plans.cache import (
    attach_posting_cache,
    build_posting_cache,
    served_blocks,
)


def _term_sizes(index):
    return (
        index.doc_blocks.groupBy("term")
        .agg(
            F.sum(
                F.octet_length("doc_ids_blob")
                + F.octet_length("tfs_blob")
                + F.octet_length("doclens_blob")
                + F.octet_length("positions_blob")
                + F.lit(64)
            ).alias("term_bytes")
        )
        .join(index.term_stats.select("term", "df"), "term")
        .collect()
    )


def test_budget_respected_and_hottest_first(spark, index200):
    full_sizes = _term_sizes(index200)
    total = sum(r["term_bytes"] for r in full_sizes)
    budget = total // 3
    cache = build_posting_cache(index200, budget_bytes=budget)

    # 1. the budget is a hard cap
    assert 0 < cache.bytes_used <= budget
    # 2. selection is the df-descending prefix (ties broken by term asc)
    order = sorted(full_sizes, key=lambda r: (-r["df"], r["term"]))
    expect, acc = [], 0
    for r in order:
        if acc + r["term_bytes"] > budget:
            break
        acc += r["term_bytes"]
        expect.append(r["term"])
    got = [r["term"] for r in cache.hot_terms.orderBy("cum_bytes").collect()]
    assert got == expect
    assert cache.n_hot_terms == len(expect)
    # 3. cold frame + pool content cover exactly the full block set
    assert served_blocks(index200, cache).count() + len(cache.hot_rows) == index200.doc_blocks.count()
    assert len(cache.hot_rows) > 0
    # 4. attach assigns every pool row to exactly one shard
    warm = attach_posting_cache(index200, cache)
    raw_pool, bounds = warm.hot_pool_bc.value
    # pool slices are pickled per shard so a serving task deserializes only
    # its own shard's frame (plans/cache.attach_posting_cache)
    import pickle

    pool = {pid: pickle.loads(b) for pid, b in raw_pool.items()}
    assert sum(len(v) for v in pool.values()) == len(cache.hot_rows)
    import numpy as np
    for pid, frame in pool.items():
        iv = bounds[pid]
        for col in ("first_doc_id", "last_doc_id"):
            doc = frame[col].to_numpy()
            at = np.searchsorted(iv[:, 0], doc, side="right") - 1
            assert (at >= 0).all()
            assert (doc <= iv[at, 1]).all()
    cache.hot_blocks.unpersist()
    cache.hot_terms.unpersist()


def test_zero_budget_caches_nothing(spark, index200):
    cache = build_posting_cache(index200, budget_bytes=0)
    assert cache.n_hot_terms == 0 and cache.bytes_used == 0
    assert served_blocks(index200, cache).count() == index200.doc_blocks.count()
    assert len(cache.hot_rows) == 0
    warm = attach_posting_cache(index200, cache)
    pool, _ = warm.hot_pool_bc.value
    assert pool == {}
    cache.hot_blocks.unpersist()
    cache.hot_terms.unpersist()


def test_mixed_hot_cold_query_identical(spark, index200):
    """THE split case: a query with one cached (hot) and one streamed
    (cold) term must score identically to plain serving. The doc-sharded
    kernel needs every doc's blocks in one shard — the pool rows merge
    back into the shard owning their doc range (a term-keyed union of two
    differently-partitioned frames would split docs and mis-score)."""
    from search_engine_spark.plans.query import search

    sizes = _term_sizes(index200)
    order = sorted(sizes, key=lambda r: (-r["df"], r["term"]))
    cache = build_posting_cache(index200, budget_bytes=order[0]["term_bytes"])
    hot = {r["term"] for r in cache.hot_terms.collect()}
    assert hot, "budget must cache at least the hottest term"
    hot_term = order[0]["term"]
    cold_term = next(r["term"] for r in order if r["term"] not in hot)
    q = f"{hot_term} {cold_term}"

    warm_idx = attach_posting_cache(index200, cache)
    plain = [
        (r["doc_id"], round(r["score"], 9))
        for r in search(spark, index200, q).collect()
    ]
    warm = [
        (r["doc_id"], round(r["score"], 9))
        for r in search(spark, warm_idx, q).collect()
    ]
    assert warm == plain
    cache.hot_blocks.unpersist()
    cache.hot_terms.unpersist()


def test_warmed_serving_plan_has_no_broadcast(spark, index200, tmp_path):
    """The cold view filters the hot terms out by a literal set, not by a
    join against a broadcast of the persisted hot-term frame, so a query on
    a warmed engine runs no broadcast job."""
    from search_engine_spark.plans.build import load_index, save_index
    from search_engine_spark.plans.query import search, search_many

    save_index(index200, str(tmp_path / "idx"))
    loaded = load_index(spark, str(tmp_path / "idx"))
    sizes = _term_sizes(loaded)
    cache = build_posting_cache(loaded, budget_bytes=sum(r["term_bytes"] for r in sizes) // 3)
    try:
        hot = sorted(r["term"] for r in cache.hot_terms.collect())
        cold = next(r["term"] for r in sizes if r["term"] not in hot)
        warm = attach_posting_cache(loaded, cache)
        for df in (
            search(spark, warm, f"{hot[0]} {cold}"),
            search_many(spark, warm, {"a": (hot[0], "or"), "b": (f"{hot[1]} {cold}", "and")}),
        ):
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            assert "Scan parquet" in plan and "BroadcastExchange" not in plan
    finally:
        cache.hot_blocks.unpersist()
        cache.hot_terms.unpersist()


def test_attach_survives_split_conf_drift(spark, index200, tmp_path):
    """Content-addressed pool assignment: build the cache against one read
    of the saved store, then RE-READ the store under a radically different
    ``spark.sql.files.maxPartitionBytes`` (different partition count, so
    every cache-build partition id is meaningless) and attach. Scores must
    be identical to plain serving — the pid-keyed design this replaces
    merged hot rows into the wrong shards here."""
    from search_engine_spark.plans.build import load_index, save_index
    from search_engine_spark.plans.query import search

    path = str(tmp_path / "idx")
    save_index(index200, path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        cold_a = load_index(spark, path)
        sizes = _term_sizes(cold_a)
        order = sorted(sizes, key=lambda r: (-r["df"], r["term"]))
        cache = build_posting_cache(cold_a, budget_bytes=order[0]["term_bytes"])
        hot = {r["term"] for r in cache.hot_terms.collect()}
        cold_term = next(r["term"] for r in order if r["term"] not in hot)
        q = f"{order[0]['term']} {cold_term}"
        plain = [
            (r["doc_id"], round(r["score"], 9))
            for r in search(spark, index200, q).collect()
        ]

        spark.conf.set(key, str(16 * 1024))  # force a different split plan
        cold_b = load_index(spark, path)
        warm = attach_posting_cache(cold_b, cache)
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search(spark, warm, q).collect()
        ]
        assert got == plain
        # and against a DIFFERENT partition count entirely (coalesce merges
        # whole shards — doc-disjointness preserved, every pid remapped):
        # the content-addressed assignment must redo the mapping
        import dataclasses

        cold_c = dataclasses.replace(cold_b, doc_blocks=cold_b.doc_blocks.coalesce(3))
        warm_c = attach_posting_cache(cold_c, cache)
        got_c = [
            (r["doc_id"], round(r["score"], 9))
            for r in search(spark, warm_c, q).collect()
        ]
        assert got_c == plain
    finally:
        spark.conf.set(key, old)
        cache.hot_blocks.unpersist()
        cache.hot_terms.unpersist()


def test_warm_mixed_query_equals_cold(spark, monkeypatch):
    """A mixed term+math query on a warmed engine must score the hot terms'
    postings too: both mixed paths (math broadcast into the shard kernel,
    and math rows routed to their doc's shard) read the posting-cache pool
    beside the cold blocks. Two serving shards and ONE math doc: the other
    shard's hits come from pool rows alone, with no cold block and no math
    row to route there."""
    from search_engine_spark.engine import SearchEngine
    from search_engine_spark.plans.cache import partition_doc_ranges
    from search_engine_spark.plans.serve import serving_coalesce

    monkeypatch.setenv("SPARK_GRAFT_SERVE_SHARDS", "2")
    docs = spark.createDataFrame(
        [
            (
                i,
                f"https://m/{i:03d}",
                f"formula w{i % 7} common"
                + (" [imath]\\frac{a}{b}[/imath]" if i == 5 else ""),
            )
            for i in range(1, 61)
        ],
        "doc_id long, url string, text string",
    )
    eng = SearchEngine.build(spark, docs, with_math=True, id_col="doc_id")
    serving, _ = serving_coalesce(eng.index.doc_blocks, docN=eng.index.docN)
    assert len(partition_doc_ranges(serving)) == 2
    q = "common formula [imath]\\frac{a}{b}[/imath]"

    def ranked(**kw):
        return [(r["doc_id"], round(r["score"], 6)) for r in eng.query(q, **kw).collect()]

    cold = ranked()
    assert len(cold) == 60 and cold[0][0] == 5 and cold[0][1] > 20000
    assert ranked(broadcast_budget_bytes=0) == cold
    eng.warm(1 << 20)
    assert eng.index.hot_pool_bc is not None
    assert eng.index.doc_blocks.filter(F.col("term") == "common").count() == 0
    assert ranked() == cold
    assert ranked(broadcast_budget_bytes=0) == cold


def test_one_shard_warm_skips_doc_ranges(spark, index200, monkeypatch):
    """One serving shard owns every doc id, so ``warm(budget)`` gives it one
    full run as bounds without the ranges job, and scores like cold
    serving. A query-time layout with a partition that has no attach-time
    bounds still raises."""
    import search_engine_spark.plans.cache as cache_mod
    from search_engine_spark.engine import SearchEngine
    from search_engine_spark.plans.query import search, search_many

    def no_ranges(blocks):
        raise AssertionError("partition_doc_ranges called on one serving shard")

    monkeypatch.setattr(cache_mod, "partition_doc_ranges", no_ranges)
    sizes = _term_sizes(index200)
    order = sorted(sizes, key=lambda r: (-r["df"], r["term"]))
    eng = SearchEngine(spark, index200).warm(sum(r["term_bytes"] for r in sizes) // 3)
    pool, bounds = eng.index.hot_pool_bc.value
    assert list(bounds) == [0] and len(bounds[0]) == 1 and list(pool) == [0]
    hot = order[0]["term"]
    hot_terms = set(eng.index.hot_postings)
    cold = " ".join([r["term"] for r in order if r["term"] not in hot_terms][:20])
    wl = {"a": (f"{hot} {cold}", "or"), "b": (f"{hot} {order[1]['term']}", "and")}

    def ranked(idx):
        return sorted(
            (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in search_many(spark, idx, wl).collect()
        )

    assert ranked(eng.index) == ranked(index200)
    # the cold view re-planned as two shards at query time: partition 1
    # has no attach-time bounds
    monkeypatch.setenv("SPARK_GRAFT_SERVE_SHARDS", "2")
    with pytest.raises(Exception, match="stale"):
        search(spark, eng.index, f"{hot} {cold}").collect()
