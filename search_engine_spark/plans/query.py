"""BM25 top-k query entry points (reference search/ role).

A query is digested into keywords (the reference re-lexes them with the
indexing lexer, search/query.c) and the doc-sharded serving kernel scores
them (plans/serve.shard_search): each shard decodes its term-filtered
posting blocks and runs the reference's document-at-a-time merge + BM25 +
proximity (search/postmerge.c, search/search.c:167-278,
search/proximity.c) vectorized in numpy and keeps a local top-k. On one
serving shard that is the whole query, one Spark job: the kernel takes
idf from its blocks' posting counts and its top-k is the ranked answer.
Past one shard, the keywords are resolved to idf in at most one tiny
term_stats lookup (plans/serve.resolve_keywords) and a rank window merges
the n_shards * k candidates. That kernel is the engine's only BM25
scorer; ``search`` and ``search_many`` are thin fronts over it.

Block-max WAND (reference skip lists mem-index/skippy.h + score-threshold
pruning search/search-utils.c:322-335) runs INSIDE the same kernel: each
shard seeds its own threshold from its densest block, sweeps its block
metadata into elementary doc intervals, and never varbyte-decodes a block
that provably cannot hold a local top-k doc — no extra Spark job.
Pruned-vs-full equality is asserted in tests/test_wand.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.tokenizer import tokenize_text
from ..operators import scoring as S
from . import serve
from .build import InvertedIndex


def digest_query(qtext: str) -> list[str]:
    """Query text -> deduped, lowercased keyword list (reference Q2/Q4).

    The reference re-lexes query keywords with the indexing lexer
    (search/query.c:81-113) and drops duplicate post_ids keeping the first
    occurrence (search/query.c:151-221). The library does NOT cap the list:
    the 20-term limit is a DAEMON admission rule (searchd/run/searchd.c:69-73
    rejects with ret_code 7, it never truncates) — enforced in
    engine.query_json / searchd.py, like the reference.
    """
    seen: dict[str, None] = {}
    for t in tokenize_text(qtext):
        if t not in seen:
            seen[t] = None
    return list(seen)


def top_k(per_doc: DataFrame, k: int = S.RANK_K) -> DataFrame:
    """Bounded top-k (reference Q13/Q14): TakeOrderedAndProject.

    Reference heap order is unstable on ties; we fix (score DESC, doc_id ASC).
    """
    return per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search(
    spark: SparkSession,
    index: InvertedIndex,
    qtext: str,
    mode: str = "or",
    k: int = S.RANK_K,
    with_prox: bool = True,
    wand: bool = False,
) -> DataFrame:
    """Full query: digest -> shard-local score -> top-k.

    Returns (doc_id, bm25, match_dim, n_matched_terms, prox, score) ordered
    by (score DESC, doc_id ASC), limited to k. ``wand=True`` turns on the
    in-kernel block-max pruning (identical results).
    """
    return serve.shard_search(
        spark, index, {"q": (qtext, mode)}, k=k, with_prox=with_prox, prune=wand
    ).select("doc_id", "bm25", "match_dim", "n_matched_terms", "prox", "score")


def search_many(
    spark: SparkSession,
    index: InvertedIndex,
    queries: dict[str, tuple[str, str]],
    k: int = S.RANK_K,
    with_prox: bool = True,
    prune: bool = False,
) -> DataFrame:
    """Batch query execution: score N queries in ONE shard pass.

    ``queries``: qid -> (qtext, mode). Returns
    (qid, rank, doc_id, bm25, match_dim, n_matched_terms, prox, score).

    Every shard decodes its blocks once for the whole workload and scores
    each query against them, so job and scan overhead is paid once per
    batch — the Spark analogue of the reference daemon handling concurrent
    requests (searchd/run/searchd.c) — while per-query results stay
    identical to ``search()`` (asserted in tests).

    ``prune=True``: batch block-max WAND — one in-kernel sweep with per-qid
    thresholds, each surviving block decoded once for the whole workload
    (plans/serve.py _batch_wand_shard).
    """
    return serve.shard_search(spark, index, queries, k=k, with_prox=with_prox, prune=prune)
