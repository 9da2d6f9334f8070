"""Budgeted posting cache (reference indices/postcache.c:62-131 role).

The reference forks on-disk posting lists into an in-memory pool until a
byte budget (postcache_set_mem_limit) is exceeded, then serves cached terms
from memory and the rest from disk (search/search.c:48-80). Its selection
walks term_ids in indexing order; we select hottest-df-first instead — the
budget then covers the terms most likely to appear in queries, which
strictly dominates id-order selection for the same budget (documented
deviation).

Spark shape: one pass computes per-term block byte sizes, a cumulative sum
over the df-descending order picks the hot prefix that fits the budget, and
ONLY those rows are materialized into the pool. Cold terms keep streaming
from the columnar store — exactly the reference's memory/disk split. (The
global prefix selection is a single-partition window over vocab-sized rows;
at a 10^8-term vocab you would bucket terms by df decile first and cumsum
per bucket — the selection is a one-off at warm-up either way.)

Pool addressing: the cached rows are CONTENT-addressed. ``PostingCache``
holds them as a plain pandas frame with no notion of partitioning;
``attach_posting_cache`` assigns them to serving shards by DOC-ID RANGE
containment against the serving frame's per-partition bounds measured at
attach time — so a store re-read under different split conf (a different
``spark.sql.files.maxPartitionBytes``, AQE coalescing, more executors)
re-derives a correct mapping instead of silently merging hot rows into the
wrong shard. The shard kernel additionally validates its incoming cold
rows against the claimed bounds and fails loudly on any drift between
attach and query time (see plans/serve.shard_search).

Driver copies: the driver holds the pool twice. The pickled pool rides
in the broadcast ``hot_pool_bc`` (the driver JVM keeps it, about the
budget in bytes) for the shard kernel. ``attach_posting_cache`` also keeps
the pool DECODED in the driver (term -> doc ids, tfs, doclens, positions
as int64 arrays), for the daemon, which scores each drained batch in the
driver (plans/serve.driver_search). The decoded pool takes about 6x the
pool's budgeted bytes: 6.29 MB for a 1.04 MB pool on the 4000-page
benchmark corpus, 191.5 MB for a 33.5 MB pool (searchd's default
``--cache-mb 32``) on a 100k-doc synthetic corpus, where ``warm()`` raised
the driver Python process's RSS by ~405 MB. The budget keeps its meaning:
compressed block bytes (``PostingCache.bytes_used``), not driver memory.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from .serve import decode_pool, serving_coalesce, sql_in

DEFAULT_BUDGET = 32 * 1024 * 1024  # postcache.h POSTCACHE_POOL_LIMIT per searchd default


@dataclass
class PostingCache:
    hot_terms: DataFrame  # (term, df, term_bytes, cum_bytes)
    hot_blocks: DataFrame  # persisted block rows of the hot terms
    budget_bytes: int
    bytes_used: int
    n_hot_terms: int
    # the in-memory pool content (postcache_pool twin): hot block rows as
    # one budget-bounded pandas frame — no partition ids; shard assignment
    # happens at attach time by doc-range containment
    hot_rows: object = None


def _block_bytes() -> F.Column:
    return (
        F.octet_length("doc_ids_blob")
        + F.octet_length("tfs_blob")
        + F.octet_length("doclens_blob")
        + F.octet_length("positions_blob")
        + F.lit(64)  # per-block metadata overhead (struct postcache_item role)
    )


def build_posting_cache(index, budget_bytes: int = DEFAULT_BUDGET) -> PostingCache:
    """Select df-hottest terms until the byte budget fills; materialize
    their block rows into the pool frame. Returns the cache handle
    (hot_blocks is persisted; hot_rows is the driver-side pool content,
    bounded by the byte budget)."""
    blocks = index.doc_blocks
    sizes = blocks.groupBy("term").agg(F.sum(_block_bytes()).alias("term_bytes"))
    ranked = sizes.join(index.term_stats.select("term", "df"), "term")
    w = Window.orderBy(F.desc("df"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hot = (
        ranked.withColumn("cum_bytes", F.sum("term_bytes").over(w))
        .where(F.col("cum_bytes") <= budget_bytes)
        .select("term", "df", "term_bytes", "cum_bytes")
    )
    hot_terms = hot.persist()
    stats = hot_terms.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.max("cum_bytes"), F.lit(0)).alias("b")
    ).collect()[0]
    hot_blocks = blocks.join(F.broadcast(hot_terms.select("term")), "term").persist()
    hot_blocks.count()
    return PostingCache(
        hot_terms=hot_terms,
        hot_blocks=hot_blocks,
        budget_bytes=budget_bytes,
        bytes_used=int(stats["b"]),
        n_hot_terms=int(stats["n"]),
        hot_rows=hot_blocks.toPandas(),
    )


def served_blocks(index, cache: PostingCache) -> DataFrame:
    """The COLD half of the serving split (search.c's cached-vs-on-disk
    posting split): blocks streamed from the store with the hot terms
    filtered out. The hot terms are taken from the pool content in the
    driver and written into the plan as a literal set, so the view is a
    plain filter: no broadcast job per query, and the doc-sharded
    partitioning of the parent is preserved. Use ``attach_posting_cache``
    to get a servable index; this helper only derives the cold view."""
    hot = cache.hot_rows
    if hot is None or not len(hot):
        return index.doc_blocks
    return index.doc_blocks.filter(~sql_in("term", hot["term"]))


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
    column per attach (daemon warm-up cost, reference postcache role)."""
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


def attach_posting_cache(index, cache: PostingCache):
    """index + cache -> a NEW InvertedIndex whose doc_blocks is the cold
    view and whose ``hot_pool_bc`` broadcast carries (pool, bounds):

    - ``bounds``: pid -> merged doc-interval array of each serving-frame
      partition as planned right now (partition_doc_ranges; one cheap
      metadata-column job per attach, skipped on one serving shard, whose
      bounds are the whole doc-id range). Interval sets must be globally
      disjoint — the doc-sharded layout invariant the serving kernel
      requires; overlap raises.
    - ``pool``: pid -> the PICKLED bytes of a pandas frame holding the hot
      rows whose doc range falls inside that partition's intervals
      (np.searchsorted containment — the content-addressed assignment;
      partition ids recorded at cache-BUILD time never survive to here, so
      split-conf drift between build and attach is harmless by
      construction). Each shard's frame is pickled on its own, so a task
      unpickles only its own shard's slice.

    The shard kernel unpickles pool[pid], merges it ahead of its cold rows
    and validates the cold rows against bounds[pid], raising on any
    attach-to-query drift instead of silently mis-scoring
    (plans/serve.shard_search).

    The handle also carries ``hot_postings``, the same pool decoded once in
    the driver (plans/serve.decode_pool), which the daemon's driver-side
    scorer reads (plans/serve.driver_search).
    """
    import dataclasses

    # normalize to the SERVING layout before measuring bounds: shard_search
    # coalesces the block frame to one shard per core (serve.serving_coalesce,
    # deterministic whole-parent grouping), so the pool's pid keys must be
    # derived from the same layout. The cold view stays in the parent
    # layout: it is a narrow filter over the same parent partitioning, so
    # shard_search's coalesce to the identical target yields the identical
    # pid grouping, while the daemon's cold-term fetch (serve.driver_search)
    # scans it with a task per parent split, not one per serving shard.
    blocks, n_shards = serving_coalesce(index.doc_blocks, docN=index.docN)
    cold = served_blocks(index, cache)
    if n_shards == 1:
        # one shard owns every doc id: its bounds are one full run, and
        # the ranges job (a decode of every doc_ids blob) is not needed
        full = np.iinfo(np.int64)
        bounds = {0: np.array([[full.min, full.max]], dtype=np.int64)}
    else:
        bounds = partition_doc_ranges(blocks)
    flat = sorted(
        (int(lo), int(hi), pid) for pid, iv in bounds.items() for lo, hi in iv
    )
    for (_, prev_hi, _), (nxt_lo, _, _) in zip(flat, flat[1:]):
        if nxt_lo <= prev_hi:
            raise ValueError(
                "attach_posting_cache: serving frame partitions do not own "
                "disjoint doc ranges (doc-sharded layout required); "
                f"overlap at doc_id {nxt_lo} <= {prev_hi}"
            )
    pool: dict[int, object] = {}
    hot = cache.hot_rows
    if hot is not None and len(hot) and flat:
        # a hot block's FIRST doc pins its owner; the LAST doc must belong
        # to the same partition (both are actual doc ids of the block — a
        # block may span several of its owner's runs, never another's)
        lookup = run_owner(bounds)
        owner = lookup(hot["first_doc_id"].to_numpy())
        if not ((owner >= 0) & (owner == lookup(hot["last_doc_id"].to_numpy()))).all():
            raise ValueError(
                "attach_posting_cache: cached block rows fall outside every "
                "serving partition's doc ranges — the cache was built against "
                "a different store; rebuild it"
            )
        # each shard's slice is pickled SEPARATELY: the broadcast value then
        # holds pid -> bytes, and a task unpickles ONLY its own shard's
        # frame. With one jointly-pickled dict of frames, every task paid
        # the deserialization of the WHOLE pool per task (pandas frames of
        # blob columns unpickle slowly; raw bytes inside the outer pickle
        # are a memcpy) — measured at a 512MB/408-term pool on a 1M-doc
        # index: warm 14.3 QPS vs cold 18.8 from that overhead alone.
        import pickle

        for pid in np.unique(owner):
            pool[int(pid)] = pickle.dumps(
                hot[owner == pid].reset_index(drop=True), protocol=5
            )
    bc = blocks.sparkSession.sparkContext.broadcast((pool, bounds))
    return dataclasses.replace(
        index, doc_blocks=cold, hot_pool_bc=bc, hot_postings=decode_pool(hot)
    )
