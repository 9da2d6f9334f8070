"""Budgeted posting cache (reference indices/postcache.c:62-131 role).

The reference forks on-disk posting lists into an in-memory pool until a
byte budget (postcache_set_mem_limit) is exceeded, then serves cached terms
from memory and the rest from disk (search/search.c:48-80). Its selection
walks term_ids in indexing order; we select hottest-df-first instead — the
budget then covers the terms most likely to appear in queries, which
strictly dominates id-order selection for the same budget (documented
deviation).

Spark shape: one aggregate computes each term's df and block bytes, a
cumulative sum over the df-descending order picks the hot prefix that fits
the budget, and one term-filtered collect brings ONLY those terms' blocks
to the driver. (The global prefix selection is a single-partition window
over vocab-sized rows; at a 10^8-term vocab you would bucket terms by df
decile first and cumsum per bucket — the selection is a one-off at warm-up
either way.)

One driver copy: like the reference's one pool read by one searcher, the
pool lives in the driver only, DECODED once (term -> doc ids, tfs,
doclens, positions as int64 arrays) on ``InvertedIndex.hot_postings``.
The daemon scores each drained batch over it (plans/serve.driver_search).
The Spark kernels (``search``/``search_many``, both mixed paths) read the
whole ``doc_blocks`` table, warmed or not. The decoded pool takes about 6x
the pool's budgeted bytes: 6.29 MB for a 1.04 MB pool on the 4000-page
benchmark corpus, 191.5 MB for a 33.5 MB pool (searchd's default
``--cache-mb 32``) on a 100k-doc synthetic corpus. The budget keeps its
meaning: compressed block bytes (``PostingCache.bytes_used``), not driver
memory.

``partition_doc_ranges``/``run_owner`` map doc ids to the serving shard
that owns them; the routed mixed kernel (math/search.py) uses them.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..operators.blocks import DOC_META_TERM
from .serve import fetch_postings

DEFAULT_BUDGET = 32 * 1024 * 1024  # postcache.h POSTCACHE_POOL_LIMIT per searchd default


@dataclass
class PostingCache:
    hot_terms: DataFrame  # (term, df, term_bytes, cum_bytes), a local frame
    budget_bytes: int
    bytes_used: int
    n_hot_terms: int
    # the pool (postcache_pool twin), decoded: term -> (ids, tfs, dls, pos)
    hot_postings: dict


def _block_bytes() -> F.Column:
    return (
        F.octet_length("doc_ids_blob")
        + F.octet_length("tfs_blob")
        + F.octet_length("doclens_blob")
        + F.octet_length("positions_blob")
        + F.lit(64)  # per-block metadata overhead (struct postcache_item role)
    )


def build_posting_cache(index, budget_bytes: int = DEFAULT_BUDGET) -> PostingCache:
    """Select df-hottest terms until the byte budget fills, then fetch
    and decode their blocks. Two Spark actions, nothing persisted: the
    selection collect (df is the sum of a term's block posting counts,
    which is how ``term_stats.df`` is built) and the pool fetch."""
    sizes = (
        index.doc_blocks.filter(F.col("term") != DOC_META_TERM)
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum(_block_bytes()).alias("term_bytes"))
    )
    w = Window.orderBy(F.desc("df"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # one partition is what the global window needs: coalescing to it
    # keeps the window from adding a second exchange (and a second job)
    hot = (
        sizes.coalesce(1)
        .withColumn("cum_bytes", F.sum("term_bytes").over(w))
        .where(F.col("cum_bytes") <= budget_bytes)
        .collect()
    )
    return PostingCache(
        hot_terms=index.doc_blocks.sparkSession.createDataFrame(
            hot, "term string, df long, term_bytes long, cum_bytes long"
        ),
        budget_bytes=budget_bytes,
        bytes_used=max((int(r["cum_bytes"]) for r in hot), default=0),
        n_hot_terms=len(hot),
        hot_postings=fetch_postings(index, [r["term"] for r in hot]),
    )


def partition_doc_ranges(blocks: DataFrame) -> dict[int, object]:
    """pid -> sorted [lo, hi] array of the CONSECUTIVE DOC-ID RUNS each
    partition of ``blocks`` actually owns, AS PLANNED RIGHT NOW.

    The doc-sharded layout guarantees every doc's blocks live in ONE
    partition, but a partition owns SEVERAL contiguous docID groups (the
    docID window hash-shuffles url-range groups by _pid) and a single
    BLOCK's [first,last] span can bridge another partition's group (a
    term's consecutive postings jump the gap), so block metadata cannot
    give ownership. Instead each partition decodes its doc_ids blobs once
    and emits the runs of consecutive doc ids it holds — runs from
    disjoint doc sets can never overlap across partitions, making the
    mapping content-exact. One executor-parallel scan of the doc_ids
    column per call."""
    import pandas as pd

    def ranges(batches):
        from pyspark import TaskContext

        from ..functions import codec

        ids = []
        for pdf in batches:
            for blob in pdf["doc_ids_blob"]:
                ids.append(codec.decode_ids(blob).astype(np.int64))
        if not ids:
            return
        u = np.unique(np.concatenate(ids))
        brk = np.flatnonzero(np.diff(u) != 1)
        starts = np.r_[u[:1], u[brk + 1]]
        ends = np.r_[u[brk], u[-1:]]
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame({"pid": pid, "lo": starts, "hi": ends})

    rows = (
        blocks.select("doc_ids_blob")
        .mapInPandas(ranges, "pid int, lo long, hi long")
        .collect()
    )
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(int(r["pid"]), []).append((int(r["lo"]), int(r["hi"])))
    return {
        pid: np.asarray(sorted(iv), dtype=np.int64) for pid, iv in by_pid.items()
    }


def run_owner(bounds: dict[int, object]):
    """``partition_doc_ranges`` output -> a vectorized lookup
    ``owner(doc ids) -> pid array``, -1 where no partition's run holds the
    doc."""
    flat = sorted(
        (int(lo), int(hi), pid) for pid, iv in bounds.items() for lo, hi in iv
    )
    glo = np.asarray([lo for lo, _, _ in flat], dtype=np.int64)
    ghi = np.asarray([hi for _, hi, _ in flat], dtype=np.int64)
    gpid = np.asarray([pid for _, _, pid in flat], dtype=np.int64)

    def owner(doc: np.ndarray) -> np.ndarray:
        if not flat:
            return np.full(len(doc), -1, dtype=np.int64)
        at = np.maximum(np.searchsorted(glo, doc, side="right") - 1, 0)
        ok = (glo[at] <= doc) & (doc <= ghi[at])
        return np.where(ok, gpid[at], -1)

    return owner
