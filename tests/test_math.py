"""Math index + expression search golden tests, modeled on the reference's
tests/cases/math-rank suite (alpha-equivalence, commutativity,
non-commutative fractions, wildcards): each case is a query plus docs in
expected rank order (HIT lines) and docs that must not outrank them. The
mixed-query cases score with MNC over the lr table, the engine's one math
index; the subpath-table cases cover the standalone Q19 operator.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.math.index import (
    build_math_index,
    build_math_lr_index,
    extract_math_spans,
)
from search_engine_spark.math.search import math_expr_scores, mixed_search, split_query
from search_engine_spark.math.texparse import tex_parse, tex_subpaths
from search_engine_spark.plans.build import build_index


def test_parser_structures():
    assert tex_subpaths("a+b") == tex_subpaths("b+a")  # commutativity
    assert tex_subpaths("a/b") != tex_subpaths("b/a")  # ordered frac
    assert tex_subpaths("\\frac{a}{b}") == tex_subpaths("a/b")
    assert tex_subpaths("{a}+{b}") == tex_subpaths("a+b")
    a, b = tex_subpaths("a+\\frac 1 a"), tex_subpaths("b+\\frac 1 b")
    assert {p for p, g in a if g} == {p for p, g in b if g}  # alpha-equal
    assert {p for p, g in a if not g} != {p for p, g in b if not g}
    assert tex_subpaths("") == []
    assert tex_subpaths("\\badcmd{") is not None  # robust, no raise


def test_extract_math_spans():
    assert extract_math_spans("x [imath]a+b[/imath] y [imath]c[/imath]") == ["a+b", "c"]
    assert extract_math_spans("[imath]unterminated") == []
    assert extract_math_spans("[imath]a[/imath] [imath]oops") == ["a"]


MATH_DOCS = [
    # (key, text)
    ("exact", "see [imath]a+\\frac 1 a[/imath] here"),
    ("alpha", "see [imath]b+\\frac 1 b[/imath] here"),
    ("commut", "see [imath]\\frac 1 a + a[/imath] here"),
    ("partial", "see [imath]a+c[/imath] here"),
    ("unrelated", "see [imath]x^2=y[/imath] here"),
    ("frac_ab", "frac [imath]\\frac{a}{b}[/imath] doc"),
    ("frac_ba", "frac [imath]\\frac{b}{a}[/imath] doc"),
    ("sq_a", "pow [imath]a^2[/imath] doc"),
    ("sq_b", "pow [imath]b^2[/imath] doc"),
    ("cube_a", "pow [imath]a^3[/imath] doc"),
    ("nomath", "plain words only here"),
]
KEY_TO_ID = {k: i + 1 for i, (k, _) in enumerate(MATH_DOCS)}


def _math_docs(spark):
    return spark.createDataFrame(
        [(i + 1, f"https://m.local/{i:04d}", t) for i, (_, t) in enumerate(MATH_DOCS)],
        "doc_id long, url string, text string",
    )


@pytest.fixture(scope="module")
def math_setup(spark):
    docs = _math_docs(spark)
    lr = build_math_lr_index(docs).cache()
    lr.count()
    idx = build_index(spark, docs, id_col="doc_id")
    idx.doc_blocks.cache().count()
    return idx, lr


def _ranking(spark, math_setup, qtex):
    idx, lr = math_setup
    res = mixed_search(spark, idx, lr, f"[imath]{qtex}[/imath]").collect()
    return [(r["doc_id"], r["max_math"]) for r in res if r["max_math"] > 0]


def test_alpha_equivalence_case(spark, math_setup):
    """Reference cases/math-rank/alpha-equvalence.txt shape: exact symbol
    match first, alpha-equivalent + commutative next, partial after."""
    hits = _ranking(spark, math_setup, "a+\\frac 1 a")
    ids = [d for d, _ in hits]
    scores = dict(hits)
    exact, alpha, commut = KEY_TO_ID["exact"], KEY_TO_ID["alpha"], KEY_TO_ID["commut"]
    assert ids[0] in (exact, commut)
    assert scores[exact] == scores[commut]  # commutativity: identical
    assert scores[exact] > scores[alpha]  # concrete > gener-only
    assert scores[alpha] > scores.get(KEY_TO_ID["partial"], 0.0)
    assert KEY_TO_ID["unrelated"] not in ids[:4]


def test_non_commutative_case(spark, math_setup):
    hits = _ranking(spark, math_setup, "\\frac{a}{b}")
    scores = dict(hits)
    assert scores[KEY_TO_ID["frac_ab"]] > scores[KEY_TO_ID["frac_ba"]]


def test_wildcard_case(spark, math_setup):
    hits = _ranking(spark, math_setup, "\\qvar{x}^2")
    scores = dict(hits)
    sa, sb = scores[KEY_TO_ID["sq_a"]], scores[KEY_TO_ID["sq_b"]]
    assert sa == sb  # wildcard: symbol-agnostic
    assert sa > scores.get(KEY_TO_ID["cube_a"], 0.0)


def test_mixed_term_plus_math(spark, math_setup):
    idx, lr = math_setup
    res = mixed_search(spark, idx, lr, "frac [imath]\\frac{a}{b}[/imath]").collect()
    top = res[0]
    # doc frac_ab matches both the term 'frac' and the expression:
    # match_dim = 1 (term) + 1 (math) => +20000
    assert top["doc_id"] == KEY_TO_ID["frac_ab"]
    assert top["score"] > 20000
    assert res[0]["max_math"] > res[1]["max_math"] or res[0]["score"] > res[1]["score"]


def test_math_only_doc_scoring(spark):
    mp = build_math_index(_math_docs(spark))
    scores = math_expr_scores(spark, mp, "x^2=y").collect()
    best = max(scores, key=lambda r: r["math_score"])
    assert best["doc_id"] == KEY_TO_ID["unrelated"]
    assert best["math_score"] == 1.0  # exact full match


def test_split_query():
    terms, texes = split_query("hello [imath]a+b[/imath] world")
    assert terms == ["hello", "world"]
    assert texes == ["a+b"]
    # NO library-side cap: the 4-math-keyword limit is a daemon admission
    # rule (searchd/run/searchd.c:62-66 rejects with ret_code 6) — enforced
    # in engine.query_json, tested in test_searchd/test_engine
    q = " ".join("[imath]x[/imath]" for _ in range(6))
    assert len(split_query(q)[1]) == 6


def test_mixed_search_mnc_rerank(spark, math_setup):
    """The math component is the MNC fidelity score: exact expression
    match normalizes to max_math == 1.0 and the commutative twin stays tied
    (mark-and-cross is order-free on ADD)."""
    idx, lr = math_setup
    res = mixed_search(spark, idx, lr, "[imath]a+\\frac 1 a[/imath]").collect()
    scores = {r["doc_id"]: r["max_math"] for r in res if r["max_math"] > 0}
    assert scores[KEY_TO_ID["exact"]] == 1.0
    assert scores[KEY_TO_ID["commut"]] == 1.0
    assert scores[KEY_TO_ID["alpha"]] < 1.0
    assert scores[KEY_TO_ID["alpha"]] > scores.get(KEY_TO_ID["partial"], 0.0)


def test_math_read_caps(spark, monkeypatch):
    """Reference read guards: at most MAX_MATH_LISTS subpath lists merge per
    TEX keyword (search/config.h:10 role) and at most
    MAX_MATH_ITEMS_PER_LIST items are read per list (search/config.h:43
    role); truncation is deterministic (doc_id, exp_id order)."""
    import search_engine_spark.math.search as MS
    from search_engine_spark.math.search import _containment_per_exp

    docs = spark.createDataFrame(
        [(i, f"u{i}", f"see [imath]a+b[/imath] end") for i in range(1, 4)],
        "doc_id long, url string, text string",
    )
    mp = build_math_index(docs).cache()
    # items cap: each matched subpath list reads only the lowest doc_id
    pe = _containment_per_exp(spark, mp, "a+b", max_items_per_list=1)
    got = {r["doc_id"] for r in pe.collect()}
    assert got == {1}
    # full read reaches every doc
    pe_full = _containment_per_exp(spark, mp, "a+b")
    assert {r["doc_id"] for r in pe_full.collect()} == {1, 2, 3}
    # lists cap: with one allowed list, only a single (subpath, is_gener)
    # dir is merged => matched weight strictly below the full query's
    monkeypatch.setattr(MS, "MAX_MATH_LISTS", 1)
    one = max(r["sim"] for r in _containment_per_exp(spark, mp, "a+b").collect())
    monkeypatch.setattr(MS, "MAX_MATH_LISTS", 512)
    full = max(r["sim"] for r in _containment_per_exp(spark, mp, "a+b").collect())
    assert one < full == 1.0


def test_grammar_breadth():
    """Round-2 token classes (reference grammar.y:35-67): _OVER/CHOOSE
    primitives, BINOM, PRIME, VECT accents, MODULAR, matrix environments."""
    from search_engine_spark.math.texparse import tex_subpaths as sp

    assert sp("{a \\over b}") == sp("\\frac{a}{b}") == sp("a \\div b")
    assert sp("{n \\choose k}") == sp("\\binom{n}{k}")
    assert sp("\\binom{n}{k}") != sp("\\binom{k}{n}")  # ordered
    assert sp("f'") != sp("f")  # prime is structural
    assert sp("\\vec{x}") != sp("\\hat{x}")  # accent kind is concrete
    gener = lambda t: {p for p, g in sp(t) if g}
    assert gener("\\vec{x}") == gener("\\hat{x}")  # but alpha-equal
    assert sp("a \\bmod n") != sp("n \\bmod a")  # ordered
    m = sp("\\begin{matrix} a & b \\\\ c & d \\end{matrix}")
    mt = sp("\\begin{matrix} a & c \\\\ b & d \\end{matrix}")
    assert m and m != mt  # cell positions are order-significant
    assert sp("\\begin{pmatrix} 1 \\\\ 0 \\end{pmatrix}")
    assert sp("\\begin{array}{cc} x & y \\end{array}")
    assert sp("\\lim_{x \\to 0} \\frac{\\sin x}{x}")
    assert sp("a' \\cdot b") and sp("x''")


def test_parser_fuzz_never_raises():
    """tex_subpaths must be total: arbitrary input either parses or skips
    (the reference counts n_parse_err and moves on, indexer/index.c:82-94)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from search_engine_spark.math.texparse import MAX_SUBPATHS, tex_subpaths

    pieces = st.sampled_from(
        ["a", "1", "+", "-", "^", "_", "{", "}", "(", ")", "\\frac", "\\over",
         "\\begin{matrix}", "\\end{matrix}", "&", "\\\\", "'", "!", "|", " ",
         "\\qvar{x}", "\\sqrt", "[", "]", "\\vec", "\\bmod", "=", "\\to"]
    )

    @settings(max_examples=400, deadline=None)
    @given(st.lists(pieces, max_size=20))
    def run(parts):
        out = tex_subpaths(" ".join(parts))
        assert isinstance(out, list)
        assert len(out) <= 2 * MAX_SUBPATHS

    run()


def test_abs_and_eval_bars():
    """\\left/\\right delimiter resolution (grammar.y _L_*/_R_* tokens):
    invisible dots vanish, |..| is absolute value whether bare or
    \\left|..\\right|, and a dangling \\right| (evaluation bar) parses."""
    from search_engine_spark.math.texparse import tex_subpaths as sp

    assert sp("|x|") == sp("\\left| x \\right|") != []
    assert sp("\\left( a+b \\right)") == sp("a+b")
    assert sp("\\left. \\frac{df}{dx} \\right|_{x=0}")  # no parse-skip
    assert sp("|a+b| = c")


def test_decorated_relations():
    """X_ARROW / _STACKREL token classes: labeled arrows and stacked
    relation symbols keep the base relation's paths and add the label."""
    from search_engine_spark.math.texparse import tex_subpaths as sp

    base_to = {p for p, _ in sp("A \\to B")}
    base_eq = {p for p, _ in sp("a = b")}
    assert base_to < {p for p, _ in sp("A \\xrightarrow{f} B")}
    assert base_eq < {p for p, _ in sp("a \\stackrel{def}{=} b")}
    assert sp("a \\overset{d}{=} b")


def test_bracket_class_tokens():
    """Round-3 grammar widening: escaped/named bracket classes parse
    instead of parse-skipping (reference lexer _L_*/_R_* token classes)."""
    from search_engine_spark.math.texparse import tex_lr_paths, tex_parse

    for tex in (
        r"\left\{x+1\right\}",
        r"\{a,b\}",
        r"\langle u, v\rangle",
        r"\left\|v\right\|",
        r"\lvert x\rvert",
    ):
        assert tex_lr_paths(tex), tex

    # floor/ceil are bracket classes WITH operator meaning
    t = tex_parse(r"\lfloor x \rfloor")
    assert t.op == "fun" and t.children[0].sym == "fun:floor"
    t = tex_parse(r"\lceil x \rceil")
    assert t.children[0].sym == "fun:ceil"
    # norm collapses onto the abs class
    t = tex_parse(r"\left\|v\right\|")
    assert t.op == "fun" and t.children[0].sym == "fun:abs"
    # comma list inside a bracket -> sep group (tuples/sets)
    t = tex_parse(r"(a, b)")
    assert t.op == "sep" and len(t.children) == 2


def test_mixed_search_one_shard_equals_four_shards(spark, monkeypatch):
    """With a third of the docs holding math across 4 partitions, a mixed
    query served on one shard (constant cogroup key) ranks exactly as on
    four serving shards, where every math row is routed to its doc's shard
    through the doc-id runs (plans/cache.run_owner)."""
    from search_engine_spark.corpus import synth_corpus
    from search_engine_spark.plans import serve
    from search_engine_spark.plans.build import build_index

    docs = synth_corpus(spark, 150, n_parts=4).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.xxhash64("url") % 3 == 0, F.lit(" [imath]a+\\frac{2}{a}[/imath]")
            ).otherwise(F.lit("")),
        ),
    ).cache()
    idx = build_index(spark, docs)
    lr = build_math_lr_index(idx.docstore)
    q = "see merge [imath]a+\\frac{2}{a}[/imath]"

    def rows():
        return {
            mode: [
                (r["doc_id"], round(r["score"], 6), round(r["max_math"], 6), round(r["prox"], 6))
                for r in mixed_search(spark, idx, lr, q, mode=mode).collect()
            ]
            for mode in ("or", "and")
        }

    assert serve.serving_coalesce(idx.doc_blocks, docN=idx.docN)[1] == 1
    one = rows()
    monkeypatch.setenv("SPARK_GRAFT_SERVE_SHARDS", "4")
    assert serve.serving_coalesce(idx.doc_blocks, docN=idx.docN)[1] == 4
    four = rows()
    assert one == four
    assert sum(m > 0 for _, _, m, _ in one["or"]) > 10


def test_mixed_and_mode_keeps_the_or_rows_holding_every_term(spark, math_setup):
    """AND mode requires every term keyword and leaves math optional: its
    rows are exactly the OR-mode rows (same score and max_math) whose
    tokenized text holds every term keyword, while OR mode also returns
    math-only docs that AND mode drops."""
    from search_engine_spark.plans.query import digest_query

    idx, lr = math_setup
    q = "see [imath]\\frac{a}{b}[/imath]"
    terms, _ = split_query(q)
    text = {r["doc_id"]: r["text"] for r in idx.docstore.collect()}

    def rows(mode):
        return {
            r["doc_id"]: (round(r["score"], 9), round(r["max_math"], 9))
            for r in mixed_search(spark, idx, lr, q, mode=mode).collect()
        }

    by_or, by_and = rows("or"), rows("and")
    assert by_and
    assert by_and == {
        d: v for d, v in by_or.items() if set(terms) <= set(digest_query(text[d]))
    }
    assert any(d not in by_and and m > 0 for d, (_, m) in by_or.items())


def test_mixed_term_query_with_pathless_tex_ranks_terms_only(spark, math_setup):
    """A TeX keyword that yields no leaf-root path adds no math channel: the
    query ranks as its term keywords alone, in both merge modes."""
    from search_engine_spark.plans import serve

    idx, lr = math_setup
    for mode in ("or", "and"):
        got = mixed_search(spark, idx, lr, "frac [imath]\\text{hi}[/imath]", mode=mode).collect()
        want = serve.shard_search(spark, idx, {"q": ("frac", mode)}).orderBy("rank").collect()
        assert want, mode
        assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
            (r["doc_id"], round(r["score"], 9)) for r in want
        ], mode
        assert all(r["max_math"] == 0 for r in got), mode


def test_lr_rows_skip_pages_without_math(spark, monkeypatch):
    """build_math_lr_index emits one row per leaf-root path with the
    expression's token position; a page without a complete span (no span,
    an unterminated tag, null text) emits nothing and is never tokenized."""
    import pandas as pd

    from search_engine_spark.math import index as MI
    from search_engine_spark.math.texparse import tex_lr_paths

    pages = [
        (1, "plain words only"),
        (2, "see [imath]a[/imath] and [imath]b+c[/imath] end"),
        (3, "x [imath]a^2[/imath] y [imath]oops never closed"),
        (4, "[imath]unterminated from the start"),
        (5, None),
    ]
    want = sorted(
        (doc, exp, struct, sym, pid, len(paths), pos, struct.split("/")[0], struct.split("/")[-1])
        for doc, exp, tex, pos in [(2, 0, "a", 1), (2, 1, "b+c", 3), (3, 0, "a^2", 1)]
        for paths in [tex_lr_paths(tex)]
        for pid, (struct, sym) in enumerate(paths, start=1)
    )
    df = spark.createDataFrame(pages, "doc_id long, text string")
    got = sorted(tuple(r) for r in MI.build_math_lr_index(df).collect())
    assert got == want

    tokenized = []
    real = MI._math_exp_positions_memo
    monkeypatch.setattr(
        MI, "_math_exp_positions_memo", lambda t: tokenized.append(t) or real(t)
    )
    pdf = pd.DataFrame({"doc_id": [d for d, _ in pages], "text": [t for _, t in pages]})
    rows = pd.concat(list(MI._lr_rows(iter([pdf]))))
    assert sorted(rows.itertuples(index=False, name=None)) == want
    assert tokenized == [pages[1][1], pages[2][1]]


def test_mixed_search_one_shard_takes_idf_from_blocks(spark, math_setup, monkeypatch):
    """On one serving shard a mixed query takes term idf from the blocks'
    n counts, runs no df lookup and computes no doc-id runs (every doc is
    on shard 0); its answers equal a two-shard run's, which looks df up
    and routes math rows by the runs, in both merge modes."""
    from search_engine_spark.plans import cache, serve

    idx, lr = math_setup
    q = "frac doc [imath]\\frac{a}{b}[/imath]"

    def answers():
        return {
            mode: [
                (r["doc_id"], round(r["score"], 9), round(r["max_math"], 9), round(r["prox"], 9))
                for r in mixed_search(spark, idx, lr, q, mode=mode).collect()
            ]
            for mode in ("or", "and")
        }

    real_lookup = serve.df_lookup

    def no_lookup(*a, **kw):
        raise AssertionError("df_lookup ran on one serving shard")

    def no_ranges(*a, **kw):
        raise AssertionError("partition_doc_ranges ran on one serving shard")

    real_ranges = cache.partition_doc_ranges
    monkeypatch.setattr(serve, "df_lookup", no_lookup)
    monkeypatch.setattr(cache, "partition_doc_ranges", no_ranges)
    assert serve.serving_coalesce(idx.doc_blocks, docN=idx.docN)[1] == 1
    one = answers()

    looked_up, ranged = [], []
    monkeypatch.setattr(
        serve, "df_lookup", lambda *a, **kw: looked_up.append(a) or real_lookup(*a, **kw)
    )
    monkeypatch.setattr(
        cache, "partition_doc_ranges", lambda *a: ranged.append(a) or real_ranges(*a)
    )
    monkeypatch.setenv("SPARK_GRAFT_SERVE_SHARDS", "2")
    assert serve.serving_coalesce(idx.doc_blocks, docN=idx.docN)[1] == 2
    two = answers()
    assert looked_up and ranged
    assert one == two and all(one.values())
