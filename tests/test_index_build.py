"""Index-build correctness: docIDs, stats, posting rows, block round-trip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions.tokenizer import tokenize_text
from search_engine_spark.operators.blocks import unpack_blocks
from search_engine_spark.operators.docids import assign_doc_ids
from search_engine_spark.operators.postings import term_stats_salted
from search_engine_spark.functions.tokenizer import tokens_frame


def test_doc_ids_deterministic_and_contiguous(spark, corpus200):
    ids = assign_doc_ids(corpus200).select("url", "doc_id").collect()
    by_url = sorted(ids, key=lambda r: r["url"])
    assert [r["doc_id"] for r in by_url] == list(range(1, len(ids) + 1))
    # independent of input partitioning
    ids2 = assign_doc_ids(corpus200.repartition(13)).select("url", "doc_id").collect()
    assert {r["url"]: r["doc_id"] for r in ids2} == {r["url"]: r["doc_id"] for r in ids}


def test_stats_match_naive(index200, pydocs200):
    doclens = {d: len(tokenize_text(t)) for d, t in pydocs200}
    assert index200.docN == len(pydocs200)
    assert abs(index200.avgdl - sum(doclens.values()) / len(doclens)) < 1e-9
    got = {r["doc_id"]: r["doclen"] for r in index200.doc_meta.collect()}
    assert got == doclens


def test_posting_rows_match_naive(index200, pydocs200):
    from search_engine_spark.oracle import build_naive_index

    postings, _, _, _ = build_naive_index(pydocs200)
    rows = index200.postings.select("term", "doc_id", "tf", "positions").collect()
    got = {(r["term"], r["doc_id"]): (r["tf"], list(r["positions"])) for r in rows}
    exp = {
        (t, d): (tf, pos)
        for t, m in postings.items()
        for d, (tf, pos) in m.items()
    }
    assert got == exp


def test_tf_cap_applied(index200):
    # doc 0 (doc_id 1 by url order) holds waaaa x >2048
    r = index200.postings.filter(
        (F.col("term") == "waaaa") & (F.col("doc_id") == 1)
    ).collect()[0]
    assert r["tf"] == 2048
    assert len(r["positions"]) == 2048
    # doclen is the UNCAPPED token count
    dl = index200.doc_meta.filter(F.col("doc_id") == 1).collect()[0]["doclen"]
    assert dl > 2048


def test_block_roundtrip(index200):
    rows = index200.postings.select("term", "doc_id", "tf", "positions").collect()
    exp = {(r["term"], r["doc_id"]): (r["tf"], list(r["positions"])) for r in rows}
    unpacked = unpack_blocks(index200.doc_blocks).collect()
    got = {(r["term"], r["doc_id"]): (r["tf"], list(r["positions"])) for r in unpacked}
    assert got == exp
    # block invariants (sentinel doc-meta rows carry chunk doclens instead)
    from search_engine_spark.operators.blocks import DOC_META_TERM

    saw_sentinel = False
    for b in index200.doc_blocks.collect():
        assert b["first_doc_id"] <= b["last_doc_id"]
        if b["term"] == DOC_META_TERM:
            saw_sentinel = True
            assert b["n"] > 0 and b["tf_sum"] > 0
            continue
        assert 0 < b["n"] <= 32
        assert b["block_max_tf"] > 0
        assert b["block_min_dl"] > 0  # a posting implies >=1 token in the doc
        assert b["tf_sum"] >= b["block_max_tf"]
    assert saw_sentinel  # the fused build must emit the doc-meta side-channel


def test_term_stats_and_negative_idf_term(index200, pydocs200):
    import math

    from search_engine_spark.oracle import build_naive_index

    postings, _, docN, _ = build_naive_index(pydocs200)
    got = {r["term"]: (r["df"], r["cf"]) for r in index200.term_stats.collect()}
    exp = {t: (len(m), sum(tf for tf, _ in m.values())) for t, m in postings.items()}
    assert got == exp
    # fixture guarantees a >50%-df term => negative idf (no floor)
    df = got["waaaa"][0]
    assert df > docN / 2
    assert math.log((docN - df + 0.5) / (df + 0.5)) < 0


def test_term_stats_df_is_posting_count(index200):
    """The daemon's driver-side scorer takes each term's idf from its
    posting count (plans/serve.driver_search): that count must equal
    term_stats.df for every term."""
    from search_engine_spark.operators.blocks import DOC_META_TERM
    from search_engine_spark.plans.serve import decode_pool

    blocks = index200.doc_blocks.filter(F.col("term") != DOC_META_TERM).toPandas()
    counts = {t: len(ids) for t, (ids, _, _, _) in decode_pool(blocks).items()}
    df = {r["term"]: r["df"] for r in index200.term_stats.collect()}
    assert len(df) > 100 and counts == df


def test_serving_decode_matches_unpack_blocks(index200):
    """The serving decode (one stream per column over a whole batch of
    block rows) gives every term the postings ``unpack_blocks`` gives it,
    with the term's blocks split across frames and out of order, with
    positions off, and through the WAND row cache's two decode calls."""
    from search_engine_spark.operators.blocks import DOC_META_TERM
    from search_engine_spark.plans.serve import _by_term, _decode_rows, _RowDecoder

    blocks = index200.doc_blocks.filter(F.col("term") != DOC_META_TERM).toPandas()
    assert blocks["term"].value_counts().max() > 1  # multi-block terms
    rows = unpack_blocks(index200.doc_blocks).toPandas()
    expect = {
        t: (
            g["doc_id"].to_numpy(),
            g["tf"].to_numpy(),
            g["doclen"].to_numpy(),
            np.concatenate([np.asarray(p, dtype=np.int64) for p in g["positions"]]),
        )
        for t, g in rows.sort_values(["term", "doc_id"]).groupby("term")
    }

    def check(decoded, with_pos=True):
        assert set(decoded) == set(expect)
        for t, (ids, tfs, dls, pos) in decoded.items():
            o = np.argsort(ids, kind="stable")
            e_ids, e_tfs, e_dls, e_pos = expect[t]
            assert np.array_equal(ids[o], e_ids)
            assert np.array_equal(tfs[o], e_tfs) and np.array_equal(dls[o], e_dls)
            if with_pos:
                per_doc = np.split(pos, np.cumsum(tfs)[:-1])
                assert np.array_equal(np.concatenate([per_doc[i] for i in o]), e_pos)
            else:
                assert pos is None

    rev = blocks.iloc[::-1]
    frames = [rev.iloc[::2], rev.iloc[1::2]]
    check(_by_term(_decode_rows(frames, True)))
    check(_by_term(_decode_rows(frames, False)), with_pos=False)

    dec = _RowDecoder(blocks, True)
    rng = np.random.default_rng(0)
    first = rng.random(len(blocks)) < 0.3
    both = first | (rng.random(len(blocks)) < 0.5)
    dec.decode(first)
    dec.decode(both)
    got, want = dec.gather(both), _by_term(_decode_rows([blocks[both]], True))
    assert set(got) == set(want)
    for t in want:
        assert all(np.array_equal(g, w) for g, w in zip(got[t], want[t]))


def test_salted_term_stats_equals_plain(spark, corpus200, index200):
    docs = assign_doc_ids(corpus200).select("doc_id", "text")
    tokens = tokens_frame(docs)
    salted = {r["term"]: (r["df"], r["cf"]) for r in term_stats_salted(tokens, 8).collect()}
    plain = {
        r["term"]: (r["df"], r["cf"])
        for r in index200.postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .collect()
    }
    # salted cf counts raw tokens; plain cf counts capped tf. Only the
    # tf-cap doc differs — adjust for it.
    assert set(salted) == set(plain)
    ncap_diff = 0
    for t in plain:
        assert salted[t][0] == plain[t][0], t
        if salted[t][1] != plain[t][1]:
            ncap_diff += 1
            assert t == "waaaa"
    assert ncap_diff <= 1


def test_read_json_corpus_roundtrip(spark, tmp_path):
    """Reference-style JSON corpus dir (one object per file, nested tree)
    reads into the canonical shape and builds a searchable index."""
    import json

    from search_engine_spark.corpus import read_json_corpus
    from search_engine_spark.plans.build import build_index
    from search_engine_spark.plans.query import search

    sub = tmp_path / "a" / "b"
    sub.mkdir(parents=True)
    docs = [
        ("https://x.org/1", "alpha beta gamma"),
        ("https://x.org/2", "beta delta"),
        ("https://x.org/3", "alpha alpha beta"),
    ]
    for i, (url, text) in enumerate(docs):
        d = sub if i % 2 else tmp_path
        (d / f"doc{i}.json").write_text(json.dumps({"url": url, "text": text, "extra": 1}))
    corpus = read_json_corpus(spark, str(tmp_path))
    assert corpus.count() == 3
    assert set(corpus.columns) == {"url", "warc_ts", "html", "text", "lang"}
    idx = build_index(spark, corpus)
    hits = search(spark, idx, "alpha beta").collect()
    assert len(hits) == 3 and hits[0]["n_matched_terms"] == 2


def test_loaded_blocks_term_filter_pushdown(spark, index200, tmp_path):
    """Plan hygiene: a term filter on the SAVED index reaches the parquet
    scan as a pushed filter (the dictionary-seek analogue — cold serving
    reads only the query terms' row groups, not the whole posting store)."""
    from pyspark.sql import functions as F

    from search_engine_spark.plans.build import load_index, save_index

    path = str(tmp_path / "idx")
    save_index(index200, path)
    loaded = load_index(spark, path)
    plan = (
        loaded.doc_blocks.filter(F.col("term") == "wabcd")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "EqualTo(term,wabcd)" in plan, plan


def test_load_without_doc_blocks_asks_for_rebuild(spark, index200, tmp_path):
    """A save with no doc_blocks table (an older layout) fails at load with
    a clear "rebuild" message, not at serve time."""
    import shutil

    from search_engine_spark.plans.build import load_index, save_index

    path = str(tmp_path / "idx")
    save_index(index200, path)
    shutil.rmtree(tmp_path / "idx" / "doc_blocks")
    with pytest.raises(ValueError, match="rebuild the index"):
        load_index(spark, path)


def test_loaded_index_derives_the_views(spark, index200, tmp_path):
    """A loaded index re-derives doc_meta, term_stats and the scalars
    exactly as the build did."""
    from search_engine_spark.plans.build import load_index, save_index

    path = str(tmp_path / "idx")
    save_index(index200, path)
    loaded = load_index(spark, path)
    assert (loaded.docN, loaded.avgdl, loaded.len_sum) == (
        index200.docN, index200.avgdl, index200.len_sum
    )
    assert isinstance(loaded.len_sum, int)
    assert sorted(loaded.doc_meta.collect()) == sorted(index200.doc_meta.collect())
    assert sorted(loaded.term_stats.collect()) == sorted(index200.term_stats.collect())


def test_save_with_derived_tables_still_loads(spark, index200, tmp_path):
    """An older save that also holds doc_meta/ and term_stats/ loads and
    serves the same ranks as a save without them."""
    from search_engine_spark.corpus import vocab_word as W
    from search_engine_spark.plans.build import load_index, save_index
    from search_engine_spark.plans.query import search_many

    new, old = str(tmp_path / "new"), str(tmp_path / "old")
    save_index(index200, new)
    save_index(index200, old)
    index200.doc_meta.write.parquet(f"{old}/doc_meta")
    index200.term_stats.write.parquet(f"{old}/term_stats")
    queries = {"a": (f"{W(1)} {W(2)}", "or"), "b": (f"{W(3)} {W(5)}", "and")}

    def ranks(path):
        rows = search_many(spark, load_index(spark, path), queries).collect()
        return sorted((r["qid"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows)

    want = ranks(new)
    assert want and ranks(old) == want


def test_stats_without_len_sum_asks_for_rebuild(spark, index200, tmp_path):
    """A stats row without the exact len_sum (an older save) fails at load
    with the same "rebuild" message as an older block layout."""
    from search_engine_spark.plans.build import load_index, save_index

    path = str(tmp_path / "idx")
    save_index(index200, path)
    spark.createDataFrame(
        [(index200.docN, float(index200.avgdl))], "docN long, avgdl double"
    ).write.mode("overwrite").parquet(f"{path}/stats")
    with pytest.raises(ValueError, match="rebuild the index"):
        load_index(spark, path)


def test_loaded_index_partitions_own_disjoint_doc_runs(spark, index200, tmp_path):
    """A raw parquet re-read can split a >row-group file and land one doc's
    blocks in two partitions — save_index/load_index carry and restore the
    writing shard id so the doc-sharded serving invariant survives any
    split conf (observed broken at 400k docs before the fix)."""
    from search_engine_spark.plans.build import load_index, save_index
    from search_engine_spark.plans.cache import partition_doc_ranges

    path = str(tmp_path / "idx_runs")
    save_index(index200, path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(8 * 1024))
        loaded = load_index(spark, path)
        assert "_shard" not in loaded.doc_blocks.columns
        bounds = partition_doc_ranges(loaded.doc_blocks)
        flat = sorted(
            (int(lo), int(hi)) for iv in bounds.values() for lo, hi in iv
        )
        for (_, prev_hi), (nxt_lo, _) in zip(flat, flat[1:]):
            assert nxt_lo > prev_hi, (nxt_lo, prev_hi)
    finally:
        spark.conf.set(key, old)


def test_doc_ids_unique_deterministic_and_rank_exact(spark):
    """Regression for the round-4 400k finding: the old two-phase scheme
    derived bucket ids from repartitionByRange + spark_partition_id, whose
    sampling Spark documents as inconsistent across executions — the
    offsets subquery and the final join disagreed and ~5k doc ids
    DUPLICATED at 400k docs. The data-derived bucket scheme must produce
    exactly rank-over-url ids, identically on every evaluation."""
    from pyspark.sql import functions as F

    from search_engine_spark.corpus import synth_corpus
    from search_engine_spark.operators.docids import assign_doc_ids

    corpus = synth_corpus(spark, 3000, n_parts=8).cache()
    corpus.count()
    ids = assign_doc_ids(corpus, "url")
    agg = ids.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("d"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    assert (agg["n"], agg["d"], agg["lo"], agg["hi"]) == (3000, 3000, 1, 3000)
    a = {(r["url"], r["doc_id"]) for r in ids.select("url", "doc_id").collect()}
    b = {
        (r["url"], r["doc_id"])
        for r in assign_doc_ids(corpus, "url", scale_safe=False)
        .select("url", "doc_id")
        .collect()
    }
    assert a == b  # exact rank-over-url semantics
    c = {(r["url"], r["doc_id"]) for r in assign_doc_ids(corpus, "url").select("url", "doc_id").collect()}
    assert a == c  # evaluation-to-evaluation determinism
