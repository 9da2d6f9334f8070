"""MNC mark-and-cross similarity vs the reference's math-rank golden suite.

All nine reference cases (tests/cases/math-rank/*.txt) embedded verbatim:
first element is the query, HIT docs must score > 0 in non-increasing file
order, NOT docs must score strictly below every HIT. Checked through the
pure scorer (math/mnc.py) and, for a sample, through the distributed plan
(math_lr_index + mnc_expr_scores).
"""

from __future__ import annotations

import pytest

from search_engine_spark.math.mnc import expr_mnc_sim, mnc_total, order_query_paths
from search_engine_spark.math.texparse import tex_lr_paths

# (case name, query, HIT docs in expected rank order, NOT docs)
GOLDEN = [
    ("alpha-equvalence", "a + \\frac 1 a = a",
     ["a + \\frac 1 a = a", "b + \\frac 1 b = b", "a + \\frac 1 b = a"], []),
    ("inequality", "2^k > 4k", ["4k < 2^k", "2^n > 4n", "2^m > 8m"], []),
    ("nil-prune", "- b", ["a - b", "a - b - b"], []),
    ("non-communitive", "\\frac a 3", ["\\frac{a}{3}", "\\frac{b}3"], ["\\frac 3 a"]),
    ("oint", "\\oint \\frac{dz}{1-z^2}",
     ["\\oint \\frac{dz}{1-z^2}", "\\oint \\frac{dx}{1-x^2}"], []),
    ("symbolic", "\\beta x", ["\\beta x", "bx", "yz"], []),
    ("symbolic2", "x^5+y^6=z^7", ["x^5+y^6=z^7", "x^2+y^2=z^2", "a^3+b^3=c^3"], []),
    ("symbolic3", "y^2-x^3", ["x^2 - y^3", "X^4 - Y^2"], []),
    ("wildcard", "f(x) = \\qvar{x} + \\frac \\qvar{x} 2",
     ["f(a) = a^2 + \\frac {a^2} 2", "f(a) = b^2 + \\frac {a^2} 2"], []),
]


@pytest.mark.parametrize("name,query,hits,nots", GOLDEN, ids=[c[0] for c in GOLDEN])
def test_golden_case_pure(name, query, hits, nots):
    qp = tex_lr_paths(query)
    hscores = [expr_mnc_sim(qp, tex_lr_paths(d)) for d in hits]
    assert all(h > 0 for h in hscores), hscores
    assert all(hscores[i] >= hscores[i + 1] for i in range(len(hscores) - 1)), hscores
    for d in nots:
        assert expr_mnc_sim(qp, tex_lr_paths(d)) < min(hscores)


def test_exact_match_normalization():
    # exact self-match: every query path earns the +1 bonus => 100 * n
    qp = tex_lr_paths("x^5+y^6=z^7")
    assert expr_mnc_sim(qp, qp) == 100 * len(qp)


def test_early_termination_zeroes():
    # a query path with no structural match anywhere zeroes the expression
    assert expr_mnc_sim(tex_lr_paths("\\frac a b + c"), tex_lr_paths("a + c")) == 0


def test_query_ordering():
    # bound-variable size desc, then symbol asc (math-expr-search.c:6-17)
    qp = tex_lr_paths("a + \\frac 1 a = a")
    syms = [s for _, s in order_query_paths(qp)]
    assert syms == ["a", "a", "a", "1", "rel:eq"]


def test_mark_and_cross_consumption():
    # two identical query paths must consume two DIFFERENT doc paths: the
    # doc 'a+a+a' has three V/add paths in one slot, query 'a+a' marks two
    q = [("V/add", "a"), ("V/add", "a")]
    d = [("V/add", "a"), ("V/add", "a"), ("V/add", "a")]
    # slot consumption handled inside mnc_total: both marks land
    rel = [{0: 0b111}, {0: 0b111}]
    assert mnc_total(["a", "a"], ["a"], rel) == 200


@pytest.mark.parametrize(
    "name,query,hits,nots",
    [GOLDEN[0], GOLDEN[3], GOLDEN[8]],
    ids=["alpha-equvalence", "non-communitive", "wildcard"],
)
def test_golden_case_spark(spark, name, query, hits, nots):
    """Distributed twin: same ranking through build_math_lr_index +
    mnc_expr_scores (candidate AND-join + the per-doc mark-and-cross kernel)."""
    from search_engine_spark.math.index import build_math_lr_index
    from search_engine_spark.math.search import mnc_expr_scores

    docs = hits + nots
    df = spark.createDataFrame(
        [(i, f"doc [imath]{t}[/imath] end") for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    lr = build_math_lr_index(df)
    got = {r["doc_id"]: r["mnc_score"] for r in mnc_expr_scores(spark, lr, query).collect()}
    qp = tex_lr_paths(query)
    for i, t in enumerate(docs):
        expect = expr_mnc_sim(qp, tex_lr_paths(t))
        assert got.get(i, 0) == expect, (t, got.get(i, 0), expect)


def test_mnc_candidate_gen_is_keyed_join(spark):
    """Candidate generation must be an equi-key probe of the lr table, not
    a BroadcastNestedLoopJoin scan (the reference seeks only the query's
    subpath directories, math-index/dir-merge.c:74-89). Covers both the
    concrete (leaf_seg) and wildcard-with-trail (root_seg) branches."""
    from search_engine_spark.math.index import build_math_lr_index
    from search_engine_spark.math.search import mnc_expr_scores

    df = spark.createDataFrame(
        [(0, "doc [imath]a + \\frac 1 a = a[/imath] end"),
         (1, "doc [imath]f(a) = a^2 + \\frac {a^2} 2[/imath] end")],
        "doc_id long, text string",
    )
    lr = build_math_lr_index(df)
    for q in ("a + \\frac 1 a = a", "f(x) = \\qvar{x} + \\frac \\qvar{x} 2"):
        pe = mnc_expr_scores(spark, lr, q)
        plan = pe._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, (q, plan)


def test_mnc_keyed_join_matches_unkeyed_on_bare_lr_table(spark):
    """A caller-supplied lr frame WITHOUT the stored leaf_seg/root_seg key
    columns must be keyed on the fly and score identically."""
    from search_engine_spark.math.index import build_math_lr_index
    from search_engine_spark.math.search import mnc_expr_scores
    from search_engine_spark.math.texparse import tex_lr_paths

    docs = ["a + \\frac 1 a = a", "b + \\frac 1 b = b", "\\frac 3 a"]
    df = spark.createDataFrame(
        [(i, f"doc [imath]{t}[/imath] end") for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    bare = build_math_lr_index(df).drop("leaf_seg", "root_seg")
    q = "a + \\frac 1 a = a"
    got = {r["doc_id"]: r["mnc_score"] for r in mnc_expr_scores(spark, bare, q).collect()}
    qp = tex_lr_paths(q)
    for i, t in enumerate(docs):
        expect = expr_mnc_sim(qp, tex_lr_paths(t))
        assert got.get(i, 0) == expect, (t, got.get(i, 0), expect)
