"""Rank-identity: engine top-k vs the independent naive oracle.

Covers the reference golden-test style (tests/math-rank-test.sh transposed
to term search): OR/AND, rare+common terms, negative-idf term, absent term,
dedup, case folding, single keyword (prox = ln 0.3), >155 hits.
"""

from __future__ import annotations

import pytest

from search_engine_spark.corpus import vocab_word as W
from search_engine_spark.oracle import naive_search
from search_engine_spark.plans.query import digest_query, search

QUERIES = [
    ("q_single", W(3), "or"),
    ("q_two_common", f"{W(1)} {W(2)}", "or"),
    ("q_rare_pair", f"{W(3500)} {W(4000)}", "or"),
    ("q_common_rare", f"{W(1)} {W(4500)}", "or"),
    ("q_negative_idf", f"{W(0)} {W(5)}", "or"),  # W(0) df > N/2
    ("q_and_two", f"{W(1)} {W(2)}", "and"),
    ("q_and_missing", f"{W(1)} zzznotaterm", "and"),  # empty result
    ("q_or_missing", f"{W(1)} zzznotaterm", "or"),
    ("q_dedup", f"{W(4)} {W(4)} {W(4)}", "or"),
    ("q_case", f"{W(6).upper()} DOG", "or"),
    ("q_multiword_split", f"{W(1)}-{W(2)}.{W(3)}", "or"),
    ("q_over_155_hits", W(0), "or"),
    ("q_math_placeholder", f"[imath]a+b[/imath] {W(2)}", "or"),
]


@pytest.mark.parametrize("qid,qtext,mode", QUERIES)
@pytest.mark.parametrize("wand", [False, True])
def test_rank_identity(spark, index200, pydocs200, qid, qtext, mode, wand):
    got = search(spark, index200, qtext, mode=mode, wand=wand).collect()
    exp = naive_search(pydocs200, qtext, mode=mode)
    assert [r["doc_id"] for r in got] == [d for d, _ in exp], qid
    for r, (_, sc) in zip(got, exp):
        assert r["score"] == pytest.approx(sc, rel=1e-4), (qid, r["doc_id"])


@pytest.mark.parametrize("qid,qtext,mode", QUERIES)
@pytest.mark.parametrize("wand", [False, True])
def test_rank_identity_two_shards(spark, index200, pydocs200, two_shards, qid, qtext, mode, wand):
    # the multi-shard plan: term_stats idf + rank window over both shards
    test_rank_identity(spark, index200, pydocs200, qid, qtext, mode, wand)


def test_digest_matches_reference_semantics():
    assert digest_query("WAAAA DOG dog waaaa") == ["waaaa", "dog"]
    assert digest_query("[imath]x[/imath] a") == ["math_exp", "a"]
    # no library-side truncation: the 20-term limit is a daemon ADMISSION
    # rule (searchd/run/searchd.c:69-73 rejects with ret_code 7, it never
    # truncates) — enforced in engine.query_json, tested in test_searchd
    assert len(digest_query(" ".join(f"t{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(30)))) == 30


def test_k_bounds_results(spark, index200, pydocs200):
    got = search(spark, index200, W(0)).collect()
    assert len(got) == 155  # fixture guarantees >155 hits for W(0)
    exp = naive_search(pydocs200, W(0))
    assert len(exp) == 155
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]


def test_tie_break_is_doc_id_asc(spark, index200):
    # docs 12 and 13 are exact duplicates => identical scores, doc_id order
    got = search(spark, index200, f"{W(7)} {W(8)}").collect()
    scores = {r["doc_id"]: r["score"] for r in got}
    d3, d4 = 13, 14  # url-order doc_ids of corpus docs i=12,13 (1-based)
    assert scores[d3] == scores[d4]
    order = [r["doc_id"] for r in got]
    assert order.index(d3) < order.index(d4)


def _assert_many_equals_oracle(spark, index200, pydocs200, workload):
    """search_many answers every qid with the oracle's ranked list."""
    from search_engine_spark.plans.query import search_many

    got: dict[str, list] = {qid: [] for qid in workload}
    for r in sorted(search_many(spark, index200, workload).collect(), key=lambda r: r["rank"]):
        got[r["qid"]].append(r)
    for qid, (qtext, mode) in workload.items():
        exp = naive_search(pydocs200, qtext, mode=mode)
        assert [r["rank"] for r in got[qid]] == list(range(1, len(exp) + 1)), qid
        assert [r["doc_id"] for r in got[qid]] == [d for d, _ in exp], qid
        for r, (_, sc) in zip(got[qid], exp):
            assert r["score"] == pytest.approx(sc, rel=1e-12), (qid, r["doc_id"])


def test_search_many_equals_oracle(spark, index200, pydocs200):
    workload = {
        "a": (f"{W(1)} {W(2)}", "or"),
        "b": (f"{W(3)} {W(9)}", "and"),
        "c": (W(0), "or"),
        "d": (f"{W(0)} {W(5)} {W(7)}", "or"),
        "e": (f"{W(1)} zzzmissing", "and"),
    }
    _assert_many_equals_oracle(spark, index200, pydocs200, workload)


@pytest.mark.parametrize("qtext,mode", [(f"{W(1)} {W(2)}", "or"), (f"{W(0)} {W(5)}", "or"), (f"{W(3)} {W(9)}", "and")])
def test_float32_reference_arithmetic_ranking(spark, index200, pydocs200, qtext, mode):
    """The C reference computes in float32 (search/bm25-score.c float); the
    engine in float64. At total-score magnitude ~2e4 (the +10000*match_dim
    offset) a float32 quantum is ~2e-3, so the reference QUANTIZES nearby
    scores into exact ties that its unstable heap breaks arbitrarily. The
    verifiable rank-identity property is therefore: wherever the engine's
    (float64) order differs from the float32 oracle's order, the float32
    scores of the swapped docs are bit-identical (a quantization tie)."""
    import numpy as np

    got = [r["doc_id"] for r in search(spark, index200, qtext, mode=mode).collect()]
    exp32 = naive_search(pydocs200, qtext, mode=mode, float32=True)
    s32 = {d: np.float32(s) for d, s in exp32}
    exp_order = [d for d, _ in exp32]
    assert set(got) == set(exp_order)
    for g, e in zip(got, exp_order):
        if g != e:
            assert s32[g] == s32[e], (g, e, s32[g], s32[e])


def test_conjunctive_block_skip_equals_full(spark, index200, pydocs200):
    """AND-only workloads trigger the kernel's block-skip path (the skip-list
    galloping analogue); results must equal the oracle's full scoring."""
    workload = {
        "a": (f"{W(3)} {W(9)}", "and"),
        "b": (f"{W(0)} {W(400)}", "and"),   # skewed + rare
        "c": (f"{W(1)} {W(2)} {W(4)}", "and"),
        "d": (f"{W(1)} zzzmissing", "and"),  # absent term => empty
    }
    _assert_many_equals_oracle(spark, index200, pydocs200, workload)


def test_interval_helpers():
    import numpy as np

    from search_engine_spark.plans.serve import _intersect, _merge_union, _overlaps

    u = _merge_union(np.array([[5, 9], [1, 3], [8, 12], [20, 25]]))
    assert u.tolist() == [[1, 3], [5, 12], [20, 25]]
    x = _intersect(u, np.array([[2, 6], [11, 21]]))
    assert x.tolist() == [[2, 3], [5, 6], [11, 12], [20, 21]]
    m = _overlaps(np.array([0, 4, 13, 22]), np.array([1, 4, 19, 30]), u)
    assert m.tolist() == [True, False, False, True]
