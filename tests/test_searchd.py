"""HTTP daemon surface: reference request JSON in, reference hit JSON out
(searchd/config.h ports/URI, searchd/utils.c parse_json_qry shape)."""

from __future__ import annotations

import json
import logging
import threading
import urllib.request

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import synth_corpus, vocab_word
from search_engine_spark.engine import RET_WINDOW_ERR, SearchEngine, errcode_json
from search_engine_spark.plans.cache import attach_posting_cache, build_posting_cache
from search_engine_spark.plans.serve import driver_search
from search_engine_spark.searchd import MicroBatcher, keywords_to_qtext, serve


@pytest.fixture(scope="module")
def engine(spark):
    return SearchEngine.build(spark, synth_corpus(spark, 200).cache())


@pytest.fixture(scope="module")
def daemon(engine):
    srv = serve(engine, port=18921, block=False)
    yield "http://127.0.0.1:18921/search"
    srv.shutdown()


def _post(url: str, payload: dict) -> dict:
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return json.loads(resp.read())


def test_search_hits_shape(daemon):
    out = _post(daemon, {
        "page": 1,
        "kw": [{"type": "term", "str": f"{vocab_word(1)} {vocab_word(2)}"}],
    })
    assert out["ret_code"] == 0 and out["ret_str"] == "Successful"
    assert out["tot_pages"] >= 1 and len(out["hits"]) == 10
    hit = out["hits"][0]
    assert set(hit) == {"docid", "score", "title", "url", "snippet"}
    assert '<em class="hl">' in hit["snippet"]  # searchd/config.h:7 highlight tag


def test_pagination_pages_differ(daemon):
    q = {"kw": [{"type": "term", "str": vocab_word(1)}]}
    p1 = _post(daemon, {**q, "page": 1})
    p2 = _post(daemon, {**q, "page": 2})
    assert p1["tot_pages"] == p2["tot_pages"] >= 2
    assert [h["docid"] for h in p1["hits"]] != [h["docid"] for h in p2["hits"]]


def test_empty_and_malformed_queries(daemon):
    # reference return-code enum (searchd/utils.h:9-24): 1 = empty query,
    # 2 = invalid JSON, 4 = illegal page, 6/7 = too many math/term keywords
    assert _post(daemon, {"page": 1, "kw": []})["ret_code"] == 1
    # page 0 = parse_json_qry failure -> BAD_JSON, like the reference
    # (searchd/run/searchd.c:48-52; parse_json_qry returns 0 on bad page)
    assert _post(daemon, {"kw": [{"type": "term", "str": "x"}]})["ret_code"] == 2
    assert _post(daemon, {"page": 1})["ret_code"] == 1
    assert _post(daemon, {"page": 1, "kw": [{"type": "nope", "str": "x"}]})["ret_code"] == 2
    # letter-only words (digits tokenize away) so 21 DISTINCT terms survive
    too_many = [{"type": "term", "str": "qq" + chr(ord("a") + i)} for i in range(21)]
    assert _post(daemon, {"page": 1, "kw": too_many})["ret_code"] == 7
    out = _post(daemon, {"page": 999, "kw": [{"type": "term", "str": "waaaa"}]})
    assert out["ret_code"] == 4  # page past the rank window


def test_no_hit_page_parity(daemon):
    # search_results_json (utils.c:360-363): (i | tot_pages) == 0 -> NO_HIT
    # only on PAGE 1 of an empty result; page > 1 of an empty result is
    # ILLEGAL_PAGENUM (i >= tot_pages fires first when i > 0)
    miss = [{"type": "term", "str": "zzzqnohit"}]
    assert _post(daemon, {"page": 1, "kw": miss})["ret_code"] == 3
    assert _post(daemon, {"page": 2, "kw": miss})["ret_code"] == 4


def test_concurrent_requests_micro_batched(daemon):
    """32 concurrent POSTs drain through one query_json_many batch; every
    reply must equal the same request served alone."""
    import threading

    reqs = [
        {"page": 1, "kw": [{"type": "term", "str": f"{vocab_word(i % 9)} {vocab_word((3 * i) % 40)}"}]}
        for i in range(32)
    ]
    solo = [_post(daemon, r) for r in reqs]
    got = [None] * len(reqs)

    def hit(i):
        got[i] = _post(daemon, reqs[i])

    threads = [threading.Thread(target=hit, args=(i,)) for i in range(len(reqs))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert got == solo


def test_keywords_to_qtext_tex_roundtrip():
    q = keywords_to_qtext([
        {"type": "term", "str": "see"},
        {"type": "tex", "str": "\\frac{a}{b}"},
    ])
    assert q == "see [imath]\\frac{a}{b}[/imath]"


def test_page_window_render_matches_render_all(engine):
    """query_json_many snippets ONLY the requested page window; replies must
    be byte-identical to query_json's render-the-whole-rank-set path for
    every page, including deep pages, past-the-end pages, and no-hit
    queries (same reference error-code order)."""
    q_hit = f"{vocab_word(1)} {vocab_word(2)}"
    q_rare = vocab_word(39)
    q_miss = "zzzqx"
    reqs = [
        (q_hit, 1, "or"),
        (q_hit, 2, "or"),
        (q_hit, 7, "or"),
        (q_hit, 999, "or"),   # past the window -> ILLEGAL_PAGENUM
        (q_rare, 1, "or"),
        (q_miss, 1, "or"),    # page 1 of empty -> NO_HIT
        (q_miss, 3, "or"),    # other page of empty -> ILLEGAL_PAGENUM
    ]
    solo = [engine.query_json(q, page=p, mode=m) for q, p, m in reqs]
    batched = engine.query_json_many(reqs)
    assert batched == solo


def test_batch_failure_is_logged_and_answered(caplog):
    """A batch that raises answers every member with RET_WINDOW_ERR and
    leaves a log record with the traceback and the batch size."""

    class Broken:
        def query_json_many(self, requests):
            raise RuntimeError("engine down")

    batcher = MicroBatcher(Broken(), window_ms=50)
    got = [None] * 3

    def ask(i):
        got[i] = batcher.submit(f"q{i}", 1)

    with caplog.at_level(logging.ERROR, logger="search_engine_spark.searchd"):
        threads = [threading.Thread(target=ask, args=(i,)) for i in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    assert got == [errcode_json(RET_WINDOW_ERR)] * 3
    recs = [r for r in caplog.records if r.name == "search_engine_spark.searchd"]
    assert recs and all(r.levelno == logging.ERROR for r in recs)
    assert all(isinstance(r.exc_info[1], RuntimeError) for r in recs)
    assert all("batch of" in r.getMessage() for r in recs)
    assert sum(r.args[0] for r in recs) == 3  # every request, whatever the split


def test_connection_burst_is_not_reset():
    """64 clients connect at once while the drainer holds the interpreter,
    as driver-side scoring does: the listen backlog must queue the burst
    (http.server's default of 5 reset some of these connections)."""
    import sys
    import time

    class Busy:
        def query_json_many(self, requests):
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < 0.05:  # pure-Python work
                sum(range(1000))
            return [errcode_json(3)] * len(requests)

    old = sys.getswitchinterval()
    sys.setswitchinterval(0.05)  # a drainer slow to give up the interpreter
    errors = []
    try:
        for _ in range(10):
            srv = serve(Busy(), port=0, block=False)
            url = f"http://127.0.0.1:{srv.server_address[1]}/search"

            def hit(i):
                try:
                    _post(url, {"page": 1, "kw": [{"type": "term", "str": f"w{i}"}]})
                except OSError as e:
                    errors.append(e)

            threads = [threading.Thread(target=hit, args=(i,)) for i in range(64)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            srv.shutdown()
            srv.server_close()
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert errors == []


def _warmed(spark, index, budget):
    cache = build_posting_cache(index, budget_bytes=budget)
    return SearchEngine(spark, attach_posting_cache(index, cache)), cache


@pytest.fixture(scope="module")
def saved200(spark, index200, tmp_path_factory):
    """index200 saved and loaded back, as the daemon serves an index."""
    from search_engine_spark.plans.build import load_index, save_index

    path = str(tmp_path_factory.mktemp("searchd") / "idx")
    save_index(index200, path)
    return load_index(spark, path)


@pytest.fixture(scope="module")
def warm_engine(spark, saved200):
    """The saved index200 with a third of its posting bytes in the pool:
    the df-hottest terms are hot, the rest cold."""
    total = saved200.doc_blocks.select(
        F.sum(
            F.octet_length("doc_ids_blob") + F.octet_length("tfs_blob")
            + F.octet_length("doclens_blob") + F.octet_length("positions_blob")
        )
    ).first()[0]
    eng, cache = _warmed(spark, saved200, total // 3)
    yield eng
    cache.hot_blocks.unpersist()
    cache.hot_terms.unpersist()


def _hot_cold(eng):
    hot = sorted(eng.index.hot_postings)
    cold = sorted(
        r["term"] for r in eng.index.term_stats.where(F.col("df") >= 3).collect()
        if r["term"] not in eng.index.hot_postings
    )
    assert len(hot) >= 2 and len(cold) >= 3
    return hot, cold


def _requests(hot, cold):
    return [
        (f"{hot[0]} {hot[1]}", 1, "or"),         # all hot
        (f"{hot[0]} {hot[1]}", 2, "or"),
        (f"{cold[0]} {cold[1]}", 1, "or"),       # all cold
        (f"{hot[1]} {cold[0]}", 1, "or"),        # mixed
        (f"{hot[1]} {cold[0]}", 2, "or"),
        (f"{hot[1]} {cold[0]}", 999, "or"),      # past the end
        (f"{cold[2]} zzzqoov", 1, "or"),         # OOV beside a cold term
        ("zzzqoov", 1, "or"),                    # page-1 no-hit -> NO_HIT
        ("zzzqoov", 2, "or"),                    # -> ILLEGAL_PAGENUM
        (f"{hot[0]} {cold[1]}", 1, "and"),       # AND mode
        (f"{cold[0]} zzzqoov", 1, "and"),        # AND with an OOV term
        (f"{cold[0]} {hot[0]} {cold[0]}", 1, "or"),  # duplicate terms
        (f"waaaa {cold[1]}", 1, "or"),           # negative-idf term (df > N/2)
        (f"waaaa {hot[1]}", 2, "and"),
        (f"{cold[1]}", 0, "or"),                 # admission reject
    ]


def test_many_equals_query_json_on_warmed_engine(warm_engine):
    """Every request kind of a drained batch, scored in the driver over
    the decoded pool plus one cold fetch, equals query_json (the shard
    kernel with the pool merged in)."""
    hot, cold = _hot_cold(warm_engine)
    reqs = _requests(hot, cold)
    solo = [warm_engine.query_json(q, page=p, mode=m) for q, p, m in reqs]
    qs = {f"q{i}": (q, m) for i, (q, _, m) in enumerate(reqs)}
    assert driver_search(warm_engine.index, qs) is not None
    assert warm_engine.query_json_many(reqs) == solo
    assert sum(1 for r in solo if r["ret_code"] == 0) >= 9


def test_many_equals_query_json_zero_budget(spark, saved200, warm_engine):
    """warm(0) leaves an empty pool, and an unwarmed engine has none:
    nothing bounds the postings of a term fetched to the driver, so
    driver_search declines and the batch runs as one search_many plan."""
    hot, cold = _hot_cold(warm_engine)
    reqs = _requests(hot, cold)
    eng, cache = _warmed(spark, saved200, 0)
    try:
        assert eng.index.hot_postings == {}
        for e in (eng, SearchEngine(spark, saved200)):
            assert driver_search(e.index, {"q": (cold[0], "or")}) is None
            assert e.query_json_many(reqs) == [
                e.query_json(q, page=p, mode=m) for q, p, m in reqs
            ]
    finally:
        cache.hot_blocks.unpersist()
        cache.hot_terms.unpersist()


def test_driver_search_declines_past_the_pool_bound(warm_engine):
    """Cold terms, each counted at the pool's smallest df, may bring at
    most the pool's posting count to the driver; one more declines."""
    pool = warm_engine.index.hot_postings
    sizes = [len(v[0]) for v in pool.values()]
    fits = sum(sizes) // min(sizes)
    words = (vocab_word(i) for i in range(len(pool) + fits + 1))
    cold = [w for w in words if w not in pool][: fits + 1]
    assert len(cold) == fits + 1

    def batch(terms):
        return {f"q{i}": (t, "or") for i, t in enumerate(terms)}

    assert driver_search(warm_engine.index, batch(cold[:fits])) is not None
    assert driver_search(warm_engine.index, batch(cold)) is None


def test_drained_batch_runs_at_most_two_jobs(spark, warm_engine):
    """One cold-term fetch plus one docstore probe, whatever the batch."""
    import time

    hot, cold = _hot_cold(warm_engine)
    reqs = _requests(hot, cold)
    sc = spark.sparkContext
    group = "test-many-jobs"
    sc.setJobGroup(group, "query_json_many")
    try:
        warm_engine.query_json_many(reqs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(2)  # the status store follows the listener bus
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_many_docstore_miss_drops_hit_and_shrinks_total(spark, warm_engine):
    """A hit whose doc is missing from the docstore is dropped from its
    page (the page comes up one row short; query_json's inner join would
    backfill it) and shrinks that request's total."""
    import dataclasses

    from search_engine_spark.plans.query import search

    hot, cold = _hot_cold(warm_engine)
    q = f"{hot[1]} {cold[0]}"
    full = warm_engine.query_json(q, page=1)
    n = len(search(warm_engine.spark, warm_engine.index, q).collect())
    miss = full["hits"][0]["docid"]
    ids = [h["docid"] for h in full["hits"]]
    rare, rare_doc = next(
        (t, d) for t, d in (
            (r["term"], warm_engine.query_json(r["term"], page=1)["hits"][0]["docid"])
            for r in warm_engine.index.term_stats.where(F.col("df") == 1).collect()
        ) if d not in ids
    )
    idx = warm_engine.index
    eng = SearchEngine(spark, dataclasses.replace(
        idx, docstore=idx.docstore.where(~F.col("doc_id").isin([miss, rare_doc]))
    ))
    got, got_rare = eng.query_json_many([(q, 1, "or"), (rare, 1, "or")])
    assert [h["docid"] for h in got["hits"]] == ids[1:]
    assert got["tot_pages"] == (n - 1 + 9) // 10
    assert got_rare == errcode_json(3)  # its one hit gone: total 0 -> NO_HIT
