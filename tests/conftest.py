from __future__ import annotations

import pytest

from search_engine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus200(spark):
    from search_engine_spark.corpus import synth_corpus

    df = synth_corpus(spark, 200, n_parts=4).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def index200(spark, corpus200):
    from search_engine_spark.plans.build import build_index

    idx = build_index(spark, corpus200, block=32)
    idx.postings.cache().count()
    idx.doc_blocks.cache().count()
    idx.doc_meta.cache().count()
    idx.term_stats.cache().count()
    return idx


@pytest.fixture(scope="session")
def pydocs200(corpus200):
    """[(doc_id, text)] matching the engine's url-order docIDs."""
    rows = corpus200.select("url", "text").collect()
    rows.sort(key=lambda r: r["url"])
    return [(i + 1, r["text"]) for i, r in enumerate(rows)]


@pytest.fixture
def two_shards(monkeypatch):
    """Serve over two shards (the fixtures' indexes are one serving shard),
    so a test runs the multi-shard plan: term_stats idf + rank window."""
    monkeypatch.setenv("SPARK_GRAFT_SERVE_SHARDS", "2")
