"""SearchEngine facade: the reference daemon surface end to end
(build -> save -> load -> warm -> paginated JSON with snippets; mixed
term+math routing)."""

from __future__ import annotations

from search_engine_spark.corpus import vocab_word as W
from search_engine_spark.engine import RES_PER_PAGE, SearchEngine


def test_engine_json_surface(spark, index200, tmp_path):
    eng = SearchEngine(spark, index200)
    q = f"{W(1)} {W(2)}"
    resp = eng.query_json(q, page=1)
    assert resp["ret_code"] == 0 and resp["tot_pages"] >= 1
    assert len(resp["hits"]) <= RES_PER_PAGE
    top = resp["hits"][0]
    assert set(top) == {"docid", "score", "title", "url", "snippet"}
    assert '<em class="hl">' in top["snippet"]
    # page 2 disjoint from page 1
    resp2 = eng.query_json(q, page=2)
    assert {h["docid"] for h in resp2["hits"]}.isdisjoint({h["docid"] for h in resp["hits"]})
    # daemon error codes
    assert eng.query_json("")["ret_code"] == 1  # empty query (utils.h enum)
    assert eng.query_json("zzzqqqmissing")["ret_code"] == 3  # no hit found


def test_engine_build_save_load_math(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "https://m/1", "energy relation [imath]E=mc^2[/imath] here"),
            (2, "https://m/2", "another [imath]E=mc^3[/imath] formula energy"),
            (3, "https://m/3", "plain words only energy"),
        ],
        "doc_id long, url string, text string",
    )
    eng = SearchEngine.build(spark, docs, with_math=True, id_col="doc_id")
    path = str(tmp_path / "idx")
    eng.save(path)
    eng2 = SearchEngine.load(spark, path).warm()
    # warm() caches the block table the serving plan actually reads
    plan = eng2.query("relation energy")._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    # NB: query with the RARE term 'relation' — 'energy' appears in every
    # doc, its idf (unfloored, reference quirk) is negative, bm25 < 0, and
    # the (1+max_math)/2 factor then RANKS EXACT MATH MATCHES LOWER — the
    # reference formula does exactly that (search/search.c:253-274)
    hits = eng2.query("relation [imath]E=mc^2[/imath]").collect()
    assert hits[0]["doc_id"] == 1  # term + exact math match outranks
    assert hits[0]["max_math"] == 1.0
    assert {r["doc_id"] for r in hits} >= {1, 2}


def test_loaded_math_lr_probe_prunes_partitions(spark, tmp_path):
    """engine.save partitions the math tables by the probe key's hash
    bucket; a loaded engine's MNC candidate scan must carry the bucket
    filter (partition pruning — the directory-per-subpath seek of
    math-index/dir-merge.c:74-89) and return the same hits as the unsaved
    engine."""
    docs = spark.createDataFrame(
        [
            (i, f"https://m/{i}", f"formula w{i % 7} [imath]\\frac{{a}}{{b_{{{i}}}}}[/imath]")
            for i in range(1, 41)
        ],
        "doc_id long, url string, text string",
    )
    eng = SearchEngine.build(spark, docs, with_math=True, id_col="doc_id")
    path = str(tmp_path / "idx_bucketed")
    eng.save(path)
    eng2 = SearchEngine.load(spark, path)
    assert "lseg_bucket" in eng2.math_lr_postings.columns
    assert "sp_bucket" in eng2.math_postings.columns

    q = "formula [imath]\\frac{a}{b_{3}}[/imath]"
    fresh = [(r["doc_id"], round(r["score"], 6)) for r in eng.query(q).collect()]
    loaded = [(r["doc_id"], round(r["score"], 6)) for r in eng2.query(q).collect()]
    assert fresh == loaded and fresh
    # the saved lr table is partitioned by lseg_bucket, not by doc: a
    # doc-partitioned claim on it must be ignored, not trusted
    claimed = eng2.query(q, lr_doc_partitioned=True).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in claimed] == fresh

    # plan-level check: the lr scan is partition-pruned by the bucket set
    from search_engine_spark.math.search import _mnc_per_exp

    pe = _mnc_per_exp(spark, eng2.math_lr_postings, "\\frac{a}{b_{3}}")
    plan = pe._jdf.queryExecution().executedPlan().toString()
    assert "lseg_bucket" in plan  # the bucket filter reached the scan
