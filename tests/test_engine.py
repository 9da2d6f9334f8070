"""SearchEngine facade: the reference daemon surface end to end
(build -> save -> load -> warm -> paginated JSON with snippets; mixed
term+math routing)."""

from __future__ import annotations

import os

import pytest

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
    """engine.save partitions math_lr by the probe key's hash bucket; a
    loaded engine's MNC candidate scan must carry the bucket
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

    q = "formula [imath]\\frac{a}{b_{3}}[/imath]"
    fresh = [(r["doc_id"], round(r["score"], 6)) for r in eng.query(q).collect()]
    loaded = [(r["doc_id"], round(r["score"], 6)) for r in eng2.query(q).collect()]
    assert fresh == loaded and fresh
    # the saved lr table is partitioned by lseg_bucket, not by doc: a
    # doc-partitioned claim on it must be ignored, not trusted
    claimed = eng2.query(q, lr_doc_partitioned=True).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in claimed] == fresh

    # plan-level check: the lr scan is partition-pruned by the bucket set
    from search_engine_spark.math.search import mnc_expr_scores

    pe = mnc_expr_scores(spark, eng2.math_lr_postings, "\\frac{a}{b_{3}}")
    plan = pe._jdf.queryExecution().executedPlan().toString()
    assert "lseg_bucket" in plan  # the bucket filter reached the scan


@pytest.fixture(scope="module")
def saved_math_engine(spark, tmp_path_factory):
    """A small term+math engine and the directory it was saved to."""
    docs = spark.createDataFrame(
        [
            (i, f"https://m/{i}", f"relation w{i % 3} [imath]E=mc^{i % 4}[/imath] energy")
            for i in range(1, 13)
        ],
        "doc_id long, url string, text string",
    )
    eng = SearchEngine.build(spark, docs, with_math=True, id_col="doc_id")
    path = str(tmp_path_factory.mktemp("math_engine") / "idx")
    eng.save(path)
    return eng, path


def test_saved_index_holds_only_underived_tables(spark, saved_math_engine, tmp_path):
    """save_index writes the blocks, the docstore and the scalars row and
    nothing the blocks re-derive; SearchEngine.save adds the one math
    table, math_lr."""
    from search_engine_spark.plans.build import save_index

    eng, path = saved_math_engine
    save_index(eng.index, str(tmp_path / "plain"))
    assert set(os.listdir(tmp_path / "plain")) == {"doc_blocks", "docstore", "stats"}
    assert set(os.listdir(path)) == {"doc_blocks", "docstore", "stats", "math_lr"}


def test_saved_math_tables_hold_one_file_per_bucket(spark, saved_math_engine):
    """Each bucket directory of the saved math_lr table is one Parquet
    file, whatever the number of tasks that computed the table."""
    eng, path = saved_math_engine
    assert eng.index.docstore.rdd.getNumPartitions() > 1
    buckets = [d for d in os.listdir(f"{path}/math_lr") if "=" in d]
    assert buckets
    for d in buckets:
        parts = [f for f in os.listdir(f"{path}/math_lr/{d}") if f.endswith(".parquet")]
        assert len(parts) == 1, (d, parts)


def test_save_with_math_postings_still_loads(spark, saved_math_engine, tmp_path):
    """An index saved with the old subpath table beside math_lr loads, its
    math_postings/ directory is not read, and it answers a mixed query as
    a save without that directory does."""
    import shutil

    from search_engine_spark.math.index import bucket_col, build_math_index

    eng, path = saved_math_engine
    old = str(tmp_path / "old_save")
    shutil.copytree(path, old)
    build_math_index(eng.index.docstore).withColumn(
        "sp_bucket", bucket_col("subpath", 64)
    ).write.partitionBy("sp_bucket").parquet(f"{old}/math_postings")

    loaded = SearchEngine.load(spark, old)
    assert not hasattr(loaded, "math_postings")
    q = "relation [imath]E=mc^2[/imath]"
    want = [(r["doc_id"], round(r["score"], 9), r["max_math"])
            for r in SearchEngine.load(spark, path).query(q).collect()]
    got = [(r["doc_id"], round(r["score"], 9), r["max_math"]) for r in loaded.query(q).collect()]
    assert got == want and any(m > 0 for _, _, m in want)


def test_routed_mixed_query_leaves_nothing_persisted(spark, saved_math_engine):
    """A mixed query made through SearchEngine.query persists nothing: the
    caller has nothing to release and the session's persisted RDDs do not
    grow."""
    eng, _ = saved_math_engine
    q = "relation [imath]E=mc^2[/imath]"
    want = [(r["doc_id"], r["score"]) for r in eng.query(q).collect()]
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(3):
        got = eng.query(q).collect()
        assert [(r["doc_id"], pytest.approx(r["score"], abs=1e-9)) for r in got] == want
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted


def test_load_math_tables_through_file_uri(spark, saved_math_engine):
    """SearchEngine.load finds math_lr through Spark, so a file:// URI
    loads it as the plain path does and mixed queries keep math."""
    _, path = saved_math_engine
    plain = SearchEngine.load(spark, path)
    uri = SearchEngine.load(spark, "file://" + os.path.abspath(path))
    assert uri.math_lr_postings is not None
    q = "relation [imath]E=mc^2[/imath]"
    want = [(r["doc_id"], round(r["score"], 9), r["max_math"]) for r in plain.query(q).collect()]
    got = [(r["doc_id"], round(r["score"], 9), r["max_math"]) for r in uri.query(q).collect()]
    assert got == want and any(m > 0 for _, _, m in want)
