"""Plan hygiene: the physical plans must have the scale-critical shapes —
filter pushdown to parquet, column pruning for metadata scans, a serving
plan that never shuffles posting data, and no row-at-a-time Python.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import vocab_word as W
from search_engine_spark.plans.query import search


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_term_filter_pushed_to_parquet(spark, index200, tmp_path):
    # persist blocks to parquet, read back, filter by term: the predicate
    # must reach the scan (PushedFilters), not a post-scan Filter only
    p = str(tmp_path / "blocks")
    index200.doc_blocks.write.parquet(p)
    blk = spark.read.parquet(p).filter(F.col("term") == W(1))
    plan = _plan(blk)
    assert "PushedFilters" in plan
    assert f"EqualTo(term,{W(1)})" in plan or "EqualTo(term" in plan


def test_scan_prunes_columns(spark, index200, tmp_path):
    p = str(tmp_path / "blocks2")
    index200.doc_blocks.write.parquet(p)
    meta = spark.read.parquet(p).select("term", "first_doc_id", "last_doc_id")
    plan = _plan(meta)
    assert "ReadSchema" in plan
    # the heavy blob columns must NOT be read for a metadata projection
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_ids_blob" not in rs and "positions_blob" not in rs


def _serving_section(df) -> str:
    # inspect only the serving section (the cached doc_blocks' build lineage
    # below InMemoryTableScan re-lists the index-build exchanges)
    return _plan(df).split("InMemoryTableScan")[0]


def test_shard_serving_has_no_data_shuffle(spark, index200, monkeypatch):
    # doc-sharded serving: posting data never shuffles. One shard (every
    # test fixture) has no Exchange at all; past one shard the only one is
    # the final rank window over n_shards*k candidate rows
    q = f"{W(1)} {W(2)}"
    one = _serving_section(search(spark, index200, q))
    assert "MapInPandas" in one
    assert one.count("Exchange") == 0
    monkeypatch.setenv("SPARK_GRAFT_SERVE_SHARDS", "2")
    two = _serving_section(search(spark, index200, q))
    assert "MapInPandas" in two
    assert two.count("Exchange") == 1  # only the final rank window
    assert "BroadcastExchange" not in two  # no join at all


def test_one_shard_batch_is_one_spark_job(spark, index200):
    """On one serving shard a search_many batch is ONE Spark job: the
    kernel takes idf from its blocks (no term_stats lookup) and emits the
    ranks itself (no rank-window exchange)."""
    from search_engine_spark.plans.query import search_many

    wl = {
        "a": (f"{W(1)} {W(2)}", "or"),
        "b": (f"{W(3)} {W(9)}", "and"),
        "c": (f"{W(7)} zzznewterm", "or"),
    }
    sc = spark.sparkContext
    group = "one-shard-batch"
    sc.setJobGroup(group, "one-shard search_many")
    try:
        df = search_many(spark, index200, wl)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert "Exchange" not in _serving_section(df)


def test_saved_store_serving_pushes_in_filter(spark, index200, tmp_path):
    # the serving term filter is one parsed SQL IN predicate; off a saved
    # store it must still reach the parquet scan as In(term, ...)
    from search_engine_spark.plans.build import load_index, save_index

    save_index(index200, str(tmp_path / "idx"))
    loaded = load_index(spark, str(tmp_path / "idx"))
    plan = _plan(search(spark, loaded, f"{W(1)} {W(2)} it's"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(term" in ln for ln in pushed), pushed


def test_sql_in_selects_what_isin_selects(spark):
    from search_engine_spark.plans.serve import sql_in

    hostile = ["it's", "a\\b", "\\'", "100%", "a_b", "検索", "plain", "'", "\\", "x\ny"]
    frame = spark.createDataFrame(
        [(t,) for t in hostile + ["a\\\\b", "its", "100x", "axb", "a-b"]], "term string"
    )
    for probe in (hostile, hostile[:3], ["its"], ["a_b", "nothere"]):
        want = sorted(r["term"] for r in frame.where(F.col("term").isin(probe)).collect())
        got = sorted(r["term"] for r in frame.where(sql_in("term", probe)).collect())
        assert got == want, probe
    assert frame.where(sql_in("term", [])).count() == 0
    ids = spark.range(1, 20).withColumnRenamed("id", "doc_id")
    assert sorted(r["doc_id"] for r in ids.where(sql_in("doc_id", [3, 5, 19, 40])).collect()) == [3, 5, 19]


def test_no_row_at_a_time_python_in_scoring(spark, index200):
    # AQE hides WholeStageCodegen spans pre-execution; the enforceable
    # hygiene property is: scoring runs in Arrow-batched kernels
    # (MapInPandas for decode/kernel) — never BatchEvalPython (row-at-a-time
    # Python UDF).
    for with_prox in (False, True):
        df = search(spark, index200, f"{W(1)} {W(2)}", with_prox=with_prox)
        assert "BatchEvalPython" not in _plan(df)
