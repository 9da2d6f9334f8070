"""Budgeted posting cache (reference indices/postcache.c semantics)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from search_engine_spark.engine import SearchEngine
from search_engine_spark.plans.cache import build_posting_cache


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


def _warm(spark, index, budget):
    return SearchEngine(spark, index).warm(budget).index


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
    # 3. the decoded pool holds exactly the selected terms
    assert set(cache.hot_postings) == set(expect)
    # 4. each pooled term's postings are its unpack_blocks rows
    rows = (
        index200.postings.where(F.col("term").isin(expect))
        .select("term", "doc_id", "tf", "doclen", "positions")
        .toPandas()
    )
    for term, g in rows.sort_values(["term", "doc_id"]).groupby("term"):
        ids, tfs, dls, pos = cache.hot_postings[term]
        o = np.argsort(ids, kind="stable")
        assert np.array_equal(ids[o], g["doc_id"].to_numpy())
        assert np.array_equal(tfs[o], g["tf"].to_numpy())
        assert np.array_equal(dls[o], g["doclen"].to_numpy())
        per_doc = np.split(pos, np.cumsum(tfs)[:-1])
        assert np.array_equal(
            np.concatenate([per_doc[i] for i in o]),
            np.concatenate([np.asarray(p, dtype=np.int64) for p in g["positions"]]),
        )


def test_zero_budget_caches_nothing(spark, index200):
    cache = build_posting_cache(index200, budget_bytes=0)
    assert cache.n_hot_terms == 0 and cache.bytes_used == 0
    assert cache.hot_terms.count() == 0
    assert cache.hot_postings == {}
    assert _warm(spark, index200, 0).hot_postings == {}


def test_warm_budget_runs_three_jobs_persists_nothing(spark, index200):
    """warm(budget) is the selection collect plus ONE fetch of the pooled
    terms' blocks, and persists nothing: the pool is the driver's decoded
    copy alone."""
    import time

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    total = sum(r["term_bytes"] for r in _term_sizes(index200))
    group = "test-warm-jobs"
    sc.setJobGroup(group, "warm(budget)")
    try:
        warm = _warm(spark, index200, total // 3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert warm.hot_postings
    time.sleep(2)  # the status store follows the listener bus
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert set(sc._jsc.getPersistentRDDs().keys()) == before


def test_mixed_hot_cold_query_identical(spark, index200, monkeypatch):
    """THE split case: a query with one pooled (hot) and one streamed
    (cold) term scores identically on a warmed engine, through the Spark
    kernels (search and search_many, with and without prune, on one and
    two serving shards) and through the driver-side scorer over the pool
    plus one cold fetch."""
    from search_engine_spark.plans.query import search, search_many
    from search_engine_spark.plans.serve import driver_search

    sizes = _term_sizes(index200)
    order = sorted(sizes, key=lambda r: (-r["df"], r["term"]))
    warm = _warm(spark, index200, order[0]["term_bytes"])
    assert warm.hot_postings, "budget must cache at least the hottest term"
    hot_term = order[0]["term"]
    cold_term, cold2 = [r["term"] for r in order if r["term"] not in warm.hot_postings][:2]
    q = f"{hot_term} {cold_term}"
    wl = {"a": (q, "or"), "b": (f"{hot_term} {cold2}", "and"), "c": (hot_term, "or")}

    def one(idx, wand=False):
        return sorted(
            ((r["doc_id"], round(r["score"], 9)) for r in search(spark, idx, q, wand=wand).collect()),
            key=lambda t: (-t[1], t[0]),
        )

    def many(idx, **kw):
        return sorted(
            (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in search_many(spark, idx, wl, **kw).collect()
        )

    for shards in (None, "2"):
        if shards:
            monkeypatch.setenv("SPARK_GRAFT_SERVE_SHARDS", shards)
        for prune in (False, True):
            assert one(warm, prune) == one(index200, prune)
            assert many(warm, prune=prune) == many(index200, prune=prune)
    got = driver_search(warm, {"a": (q, "or")})["a"]
    assert [(int(d), round(float(s), 9)) for d, s in zip(got[0], got[-1])] == one(index200)


def test_warmed_serving_plan_has_no_broadcast(spark, index200, tmp_path):
    """A warmed engine's Spark kernels read the saved doc_blocks as an
    unwarmed one does: the plan scans parquet and runs no broadcast job."""
    from search_engine_spark.plans.build import load_index, save_index
    from search_engine_spark.plans.query import search, search_many

    save_index(index200, str(tmp_path / "idx"))
    loaded = load_index(spark, str(tmp_path / "idx"))
    sizes = _term_sizes(loaded)
    warm = _warm(spark, loaded, sum(r["term_bytes"] for r in sizes) // 3)
    hot = sorted(warm.hot_postings)
    cold = next(r["term"] for r in sizes if r["term"] not in warm.hot_postings)
    for df in (
        search(spark, warm, f"{hot[0]} {cold}"),
        search_many(spark, warm, {"a": (hot[0], "or"), "b": (f"{hot[1]} {cold}", "and")}),
    ):
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        assert "Scan parquet" in plan and "BroadcastExchange" not in plan


def test_attach_survives_split_conf_drift(spark, index200, tmp_path):
    """The pool is keyed by term alone: built against one read of the
    saved store, then set on a RE-READ of it under a radically different
    ``spark.sql.files.maxPartitionBytes`` (a different partition count)
    and on a coalesced handle, it scores like plain serving through the
    driver-side scorer and the Spark kernels alike."""
    import dataclasses

    from search_engine_spark.plans.build import load_index, save_index
    from search_engine_spark.plans.query import search
    from search_engine_spark.plans.serve import driver_search

    path = str(tmp_path / "idx")
    save_index(index200, path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        cold_a = load_index(spark, path)
        sizes = _term_sizes(cold_a)
        order = sorted(sizes, key=lambda r: (-r["df"], r["term"]))
        pool = build_posting_cache(cold_a, budget_bytes=order[0]["term_bytes"]).hot_postings
        cold_term = next(r["term"] for r in order if r["term"] not in pool)
        q = f"{order[0]['term']} {cold_term}"
        plain = [
            (r["doc_id"], round(r["score"], 9))
            for r in search(spark, index200, q).collect()
        ]

        spark.conf.set(key, str(16 * 1024))  # force a different split plan
        cold_b = load_index(spark, path)
        cold_c = dataclasses.replace(cold_b, doc_blocks=cold_b.doc_blocks.coalesce(3))
        for cold in (cold_b, cold_c):
            warm = dataclasses.replace(cold, hot_postings=pool)
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in search(spark, warm, q).collect()
            ]
            assert got == plain
            res = driver_search(warm, {"q": (q, "or")})["q"]
            assert [(int(d), round(float(s), 9)) for d, s in zip(res[0], res[-1])] == plain
    finally:
        spark.conf.set(key, old)


def test_warm_mixed_query_equals_cold(spark, monkeypatch):
    """Mixed term+math and math-only queries on a warmed engine score as
    on a cold one. Two serving shards and ONE math doc: the other shard's
    hits come from term blocks alone, with no math row routed there."""
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
    q_math = "[imath]\\frac{a}{b}[/imath]"

    def ranked(qtext):
        return [(r["doc_id"], round(r["score"], 6)) for r in eng.query(qtext).collect()]

    cold = ranked(q)
    assert len(cold) == 60 and cold[0][0] == 5 and cold[0][1] > 20000
    cold_math = ranked(q_math)
    assert [d for d, _ in cold_math] == [5]
    eng.warm(1 << 20)
    assert "common" in eng.index.hot_postings
    assert ranked(q) == cold
    assert ranked(q_math) == cold_math
