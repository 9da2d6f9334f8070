"""Resumable build: crash mid-build, restart, final index identical and
committed partitions never reprocessed (reference restart-from-docN,
indexer/index.c:25-38; north-rule per-partition lineage).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.plans.checkpoint import (
    build_partitioned,
    committed_partitions,
    finalize_index,
)


@pytest.fixture()
def workdir(tmp_path):
    d = str(tmp_path / "idx")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _snapshot(index):
    rows = index.postings.select("term", "doc_id", "tf").collect()
    return sorted((r["term"], r["doc_id"], r["tf"]) for r in rows)


def test_resume_identical(spark, corpus200, tmp_path):
    full_dir = str(tmp_path / "full")
    resumed_dir = str(tmp_path / "resumed")

    # uninterrupted build
    build_partitioned(spark, corpus200, full_dir, n_parts=4)
    full = finalize_index(spark, full_dir, n_parts=4)

    # crash after 2 committed partitions
    with pytest.raises(RuntimeError, match="injected failure"):
        build_partitioned(spark, corpus200, resumed_dir, n_parts=4, fail_after=2)
    done = committed_partitions(spark, resumed_dir)
    assert len(done) == 2
    with pytest.raises(RuntimeError, match="missing"):
        finalize_index(spark, resumed_dir, n_parts=4)

    # restart: must skip the 2 committed partitions and only do the rest
    committed_now = build_partitioned(spark, corpus200, resumed_dir, n_parts=4)
    assert committed_now.isdisjoint(done)
    assert len(committed_now) == 2
    resumed = finalize_index(spark, resumed_dir, n_parts=4)

    assert _snapshot(resumed) == _snapshot(full)
    assert resumed.docN == full.docN
    assert abs(resumed.avgdl - full.avgdl) < 1e-9


def test_lineage_manifest_schema(spark, corpus200, tmp_path):
    d = str(tmp_path / "m")
    build_partitioned(spark, corpus200, d, n_parts=2)
    m = spark.read.parquet(f"{d}/lineage")
    assert {"partition_id", "status", "n_docs", "wall_ms", "n_postings",
            "n_tokens_capped", "positions_bytes", "docs_per_sec"} <= set(m.columns)
    rows = m.collect()
    assert {r["partition_id"] for r in rows} == {0, 1}
    assert all(r["status"] == "done" for r in rows)
    assert sum(r["n_docs"] for r in rows) == 200
    assert all(r["n_postings"] > 0 and r["positions_bytes"] > 0 and r["docs_per_sec"] > 0 for r in rows)


def test_partitioned_build_frees_its_caches(spark, corpus200, tmp_path):
    """Every segment build unpersists its docs + blocks, on the injected
    failure path too, and the partition-tagged corpus cache goes with it."""
    d = str(tmp_path / "c")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(RuntimeError, match="injected failure"):
        build_partitioned(spark, corpus200, d, n_parts=2, fail_after=1)
    assert persistent().size() == before
    assert build_partitioned(spark, corpus200, d, n_parts=2) == {1}
    assert persistent().size() == before
