"""Round-3 pipeline operators: dup-group resolution (connected components
over near-dup pairs), URL canonicalization dedup, Gopher quality rules,
and index merge (reference repo.merge() role)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import dedup as DD
from search_engine_spark.operators import textstats as TX
from search_engine_spark.operators import urls as URL


def test_dup_groups_chain(spark):
    # chained pairs A-B, B-C must land in ONE group (per-pair deletion
    # over-deletes); isolated doc stays a singleton
    docs = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 3), (1, 2)], "doc_a long, doc_b long")
    rows = {r.doc_id: r for r in DD.dup_groups(docs, pairs).collect()}
    assert rows[1].component == 1 and not rows[1].is_dup and rows[1].group_size == 3
    assert rows[2].component == 1 and rows[2].is_dup
    assert rows[3].component == 1 and rows[3].is_dup
    assert rows[4].component == 4 and rows[4].group_size == 1 and not rows[4].is_dup


def test_dup_groups_long_path(spark):
    # a pure path graph 1-2-...-8 (diameter 7) still converges to min-label
    docs = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    out = DD.dup_groups(docs, pairs).collect()
    assert all(r.component == 1 for r in out)
    assert all(r.group_size == 8 for r in out)


URL_CASES = [
    # every rule at once: case, www, default port, trailing slash,
    # param sort, utm_ drop, fragment
    (
        "HTTPS://WWW.Example.COM:443/A/b/?z=1&utm_source=x&a=2#frag",
        "https://example.com/A/b?a=2&z=1",
    ),
    # non-default port KEPT
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    # http default port stripped; bare "/" path collapses to "/"
    ("http://EXAMPLE.com:80/", "http://example.com/"),
    # empty path -> "/"
    ("https://example.com", "https://example.com/"),
    # all params are tracking params -> no query at all
    ("https://example.com/a?ref=tw&fbclid=1&utm_x=1", "https://example.com/a"),
    ("https://example.com/a/?b=2&a=1", "https://example.com/a?a=1&b=2"),
]


def test_canonical_url_rules(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(URL_CASES)], "doc_id long, url string")
    got = {
        r.doc_id: r.c
        for r in df.select("doc_id", URL.canonical_url_col("url").alias("c")).collect()
    }
    for i, (_, want) in enumerate(URL_CASES):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_url_dedup_groups(spark):
    df = spark.createDataFrame(
        [
            (1, "https://example.com/a?x=1&utm_s=9"),
            (2, "HTTPS://WWW.EXAMPLE.COM:443/a/?x=1"),
            (3, "https://example.com/b"),
        ],
        "doc_id long, url string",
    )
    rows = {r.doc_id: r for r in URL.url_dedup(df).collect()}
    assert rows[1].canonical_url == rows[2].canonical_url == "https://example.com/a?x=1"
    assert rows[2].is_dup and not rows[1].is_dup and rows[1].group_size == 2
    assert rows[3].group_size == 1 and not rows[3].is_dup


def _gopher(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = TX.gopher_rules(df)
    rows = {r.doc_id: r for r in out.collect()}
    for h in getattr(out, "_cached_inputs", []):
        h.unpersist()
    return rows


def test_gopher_rules(spark):
    import string

    distinct = [
        "word" + string.ascii_lowercase[i // 26] + string.ascii_lowercase[i % 26]
        for i in range(60)
    ]
    good = "the of " + " ".join(distinct)  # 62 words, all rules pass
    repeated = "cat " * 60 + "the of"  # top bigram "cat cat" x59 -> rep fails
    short = "the of ox"  # word count + mean length fail
    rows = _gopher(spark, [good, repeated, short])

    g = rows[0]
    assert g.n_words == 62 and g.stop_hits == 2 and g.top_bi == 1
    assert g.pass_words and g.pass_wordlen and g.pass_alpha and g.pass_stop and g.pass_rep
    assert g.keep

    r = rows[1]
    assert r.top_bi == 59 and not r.pass_rep and not r.keep
    assert r.pass_words  # 62 words

    s = rows[2]
    assert not s.pass_words and not s.pass_wordlen and not s.keep
    assert s.stop_hits == 2


def test_gopher_alpha_rule(spark):
    # 2 of 5 whitespace words lack any letter -> 60% < 80% threshold
    rows = _gopher(spark, ["123 456 the of valid"])
    assert rows[0].n_ws == 5 and rows[0].n_alpha_ws == 3
    assert not rows[0].pass_alpha


def test_merge_equals_straight_build(spark, corpus200):
    from search_engine_spark.operators.docids import assign_doc_ids
    from search_engine_spark.plans.build import build_index, merge_indexes

    ided = assign_doc_ids(corpus200, "url").select("doc_id", "url", "text").cache()
    ided.count()
    full = build_index(spark, ided, id_col="doc_id", block=32)
    ia = build_index(spark, ided.where(F.col("doc_id") % 2 == 0), id_col="doc_id", block=32)
    ib = build_index(spark, ided.where(F.col("doc_id") % 2 == 1), id_col="doc_id", block=32)
    merged = merge_indexes(ia, ib)

    assert merged.docN == full.docN
    assert merged.avgdl == pytest.approx(full.avgdl, abs=1e-9)

    def snap(idx):
        return sorted(
            (r.term, r.doc_id, r.tf, r.doclen)
            for r in idx.postings.select("term", "doc_id", "tf", "doclen").collect()
        )

    assert snap(merged) == snap(full)

    tsnap = lambda idx: sorted(
        (r.term, r.df, r.cf) for r in idx.term_stats.collect()
    )
    assert tsnap(merged) == tsnap(full)

    # end-to-end: BM25 scores through the merged blocks (block-max metadata
    # repacked with the merged avgdl) match the straight build
    from search_engine_spark.plans.query import search

    def scores(idx):
        res = search(spark, idx, "merge join", mode="or", k=50)
        return {r.doc_id: round(r.score, 9) for r in res.collect()}

    assert scores(merged) == scores(full)
    ided.unpersist()


def test_merge_rejects_overlap(spark, corpus200):
    from search_engine_spark.operators.docids import assign_doc_ids
    from search_engine_spark.plans.build import build_index, merge_indexes

    ided = assign_doc_ids(corpus200, "url").select("doc_id", "url", "text")
    ia = build_index(spark, ided.where(F.col("doc_id") <= 120), id_col="doc_id", block=32)
    ib = build_index(spark, ided.where(F.col("doc_id") >= 100), id_col="doc_id", block=32)
    with pytest.raises(ValueError, match="overlap"):
        merge_indexes(ia, ib)


def test_real_decode_path_gated_on_pillow(spark):
    """mm_features real path: pytest-gated on the Pillow probe (this
    sandbox ships no decoder — the gate documents that; on a cluster image
    with Pillow the same test exercises the real decode)."""
    import pytest

    from search_engine_spark.operators.multimodal import (
        extract_features,
        media_frame,
        pil_available,
    )

    docs = spark.createDataFrame([(1, b"\x89PNG not a real image")], "doc_id long, html binary")
    media = media_frame(docs)
    if not pil_available():
        import py4j.protocol

        with pytest.raises(Exception):  # ImportError inside the executor
            extract_features(media, decode_stub=False).collect()
    else:
        # Pillow present: a real 1x1 PNG must decode to dim floats in [0,1]
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (4, 4), color=128).save(buf, format="PNG")
        docs = spark.createDataFrame([(1, buf.getvalue())], "doc_id long, html binary")
        rows = extract_features(media_frame(docs), decode_stub=False).collect()
        assert len(rows[0]["feature"]) == 8
        assert all(0.0 <= v <= 1.0 for v in rows[0]["feature"])
