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


def test_shard_serving_has_no_data_shuffle(spark, index200):
    # doc-sharded serving: the only Exchange in the plan is the final rank
    # window over n_shards*k candidate rows — posting data never shuffles
    df = search(spark, index200, f"{W(1)} {W(2)}")
    plan = _plan(df)
    # inspect only the serving section (the cached doc_blocks' build lineage
    # below InMemoryTableScan re-lists the index-build exchanges)
    serving_section = plan.split("InMemoryTableScan")[0]
    assert "MapInPandas" in serving_section
    assert serving_section.count("Exchange") <= 1  # only the final rank window
    assert "BroadcastExchange" not in serving_section  # no join at all


def test_no_row_at_a_time_python_in_scoring(spark, index200):
    # AQE hides WholeStageCodegen spans pre-execution; the enforceable
    # hygiene property is: scoring runs in Arrow-batched kernels
    # (MapInPandas for decode/kernel) — never BatchEvalPython (row-at-a-time
    # Python UDF).
    for with_prox in (False, True):
        df = search(spark, index200, f"{W(1)} {W(2)}", with_prox=with_prox)
        assert "BatchEvalPython" not in _plan(df)
