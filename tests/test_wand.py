"""WAND prune safety: pruned path must equal full scoring exactly
(upper-bound-safe pruning; reference skip list + score-threshold analogue).
"""

from __future__ import annotations

import pytest

from search_engine_spark.corpus import vocab_word as W
from search_engine_spark.oracle import naive_search
from search_engine_spark.plans.query import search
from search_engine_spark.plans.serve import _interval_sweep

CASES = [
    (f"{W(1)} {W(2)}", "or"),
    (f"{W(0)} {W(400)}", "or"),  # skewed + rare
    (f"{W(3)} {W(9)}", "and"),
    (W(50), "or"),
    (f"{W(0)} {W(5)} {W(7)}", "or"),  # negative-idf term in the mix
]


@pytest.mark.parametrize("qtext,mode", CASES)
def test_wand_equals_full(spark, index200, qtext, mode):
    full = search(spark, index200, qtext, mode=mode, wand=False).collect()
    pruned = search(spark, index200, qtext, mode=mode, wand=True).collect()
    assert [r["doc_id"] for r in pruned] == [r["doc_id"] for r in full]
    # the pruned and full paths run the same float64 scorer
    for a, b in zip(pruned, full):
        assert a["score"] == pytest.approx(b["score"], rel=1e-12, abs=1e-8)


@pytest.mark.parametrize("qtext,mode", CASES)
def test_wand_equals_full_two_shards(spark, index200, two_shards, qtext, mode):
    test_wand_equals_full(spark, index200, qtext, mode)


def test_wand_actually_prunes(spark, index200):
    """The interval sweep must reject at least one block range on a skewed
    query (otherwise the 'pruning' is a no-op and the test is vacuous)."""
    import numpy as np
    from pyspark.sql import functions as F

    from search_engine_spark.operators.scoring import idf as idf_fn

    terms = [W(0)]
    meta = (
        index200.doc_blocks.filter(F.col("term").isin(terms))
        .select("term", "first_doc_id", "last_doc_id", "block_max_tf", "block_min_dl")
        .toPandas()
    )
    idfs = {W(0): idf_fn(180.0, 200.0)}
    # a very high threshold must prune everything
    surv = _interval_sweep(meta, idfs, 1, thresh=1e12, avgdl=index200.avgdl)
    assert surv == []
    # a very low threshold keeps everything
    surv = _interval_sweep(meta, idfs, 1, thresh=-1e12, avgdl=index200.avgdl)
    total = sum(e - s + 1 for s, e in surv)
    assert total >= int(meta["last_doc_id"].max() - meta["first_doc_id"].min())


def test_batch_wand_equals_unpruned(spark, index200):
    """search_many(prune=True) — one in-kernel sweep, per-qid thresholds —
    must return exactly the unpruned batch output on a MIXED or/and
    workload (including a query with an absent term and a singleton)."""
    from search_engine_spark.plans.query import search_many

    wl = {
        "a": (f"{W(1)} {W(2)}", "or"),
        "b": (f"{W(0)} {W(400)}", "or"),
        "c": (f"{W(3)} {W(9)}", "and"),
        "d": (W(50), "or"),
        "e": (f"{W(0)} {W(5)} {W(7)}", "or"),
        "f": (f"{W(1)} zzzqmissing", "and"),
    }
    full = search_many(spark, index200, wl, prune=False).collect()
    pruned = search_many(spark, index200, wl, prune=True).collect()
    key = lambda r: (r["qid"], r["rank"])
    full.sort(key=key)
    pruned.sort(key=key)
    assert [(r["qid"], r["rank"], r["doc_id"]) for r in pruned] == [
        (r["qid"], r["rank"], r["doc_id"]) for r in full
    ]
    for a, b in zip(pruned, full):
        assert a["score"] == pytest.approx(b["score"], rel=1e-12, abs=1e-8)


def test_shard_wand_equals_oracle(spark, index200, pydocs200):
    # the pruned shard kernel against the independent naive oracle, which
    # scores every candidate doc (no pruning at all)
    q = f"{W(1)} {W(2)}"
    got = search(spark, index200, q, wand=True).collect()
    exp = naive_search(pydocs200, q)
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    for r, (_, sc) in zip(got, exp):
        assert r["score"] == pytest.approx(sc, rel=1e-12)


def test_batch_wand_equals_unpruned_two_shards(spark, index200, two_shards):
    test_batch_wand_equals_unpruned(spark, index200)


def test_shard_wand_equals_oracle_two_shards(spark, index200, pydocs200, two_shards):
    test_shard_wand_equals_oracle(spark, index200, pydocs200)
