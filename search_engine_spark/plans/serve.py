"""Document-sharded query serving: shard-local DAAT kernel + global top-k.

THE scalable serving design (and how the reference runs distributed in
practice): the posting blocks are doc-range sharded (every term of a doc in
one shard, blocks.invert_pack_blocks), so a query is

  narrow mapInPandas over term-filtered blocks (per shard: decode ->
  vectorized BM25 + proximity + local bounded top-k, all numpy)
  -> past one shard: union of n_shards * k rows -> global rank window.

ZERO data shuffles per query: the only movement is each shard's k
candidate rows. An index small enough for ONE serving shard
(``SERVE_DOCS_PER_SHARD``) runs as one Spark job: that shard holds every
block of every query term, so the kernel takes each term's df from its
blocks' posting counts (no term_stats lookup) and its local top-k is the
global one (no rank window). The per-shard kernel is exactly the
reference's document-at-a-time merge loop (search/postmerge.c +
search.c:167-278 + proximity.c) vectorized over the whole shard instead of
doc-at-a-time:

- per-term score: idf * tf(k1+1)/(tf + k1(1-b+(k1/avgdl)doclen)) with the
  reference quirks (scoring.py);
- bm25 = 1 + sum of nonzero term scores; match_dim = count nonzero;
- prox = ln(0.3 + e^-minDist), minDist = min adjacent cross-keyword gap in
  the doc's merged position order (np.lexsort + diff + minimum.at);
- AND mode: n matched terms == n query terms (postmerge.c:103-140);
- local heap: lexsort take-k (minheap.c role), ties (score DESC, doc ASC).

Batch mode scores many queries in the same shard pass, reusing the decoded
arrays — the serving-throughput shape. ``_batch_score_shard`` is the
engine's one BM25 scorer: plain and batch queries, the WAND path, the
mixed term+math kernel (math/search.py) and the daemon's driver-side batch
scorer (``driver_search``) all call it.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..operators import scoring as S
from ..operators.blocks import decode_blocks

_OUT_SCHEMA = (
    "qid string, rank int, doc_id long, bm25 double, match_dim double, "
    "n_matched_terms long, prox double, score double"
)


def sql_in(col: str, values) -> Column:
    """``col IN (values)`` parsed from ONE SQL string; every IN filter of
    the serving path is made here. ``Column.isin`` costs about two py4j
    round trips per value: a ``filter`` on 120 terms took a median 81-103
    ms with ``isin`` against 7-14 ms with this predicate (4-core host,
    local[4], 15 calls each). Both plan the same ``In``/``InSet``, which
    the parquet scan takes as a pushed filter. Strings are quoted with
    ``\\`` and ``'`` escaped; ints are written as ints. No values gives
    FALSE, never ``IN ()``."""
    vals = sorted(set(values))
    if not vals:
        return F.lit(False)

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return str(int(v))

    return F.expr(f"`{col}` IN ({', '.join(map(lit, vals))})")


def _merge_union(intervals: np.ndarray) -> np.ndarray:
    """[[s,e]...] -> merged union, sorted (inclusive bounds)."""
    if len(intervals) == 0:
        return intervals.reshape(0, 2)
    iv = intervals[np.argsort(intervals[:, 0])]
    out = [iv[0].tolist()]
    for s, e in iv[1:]:
        if s <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return np.asarray(out, dtype=np.int64)


def _intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Intersection of two merged interval lists (two-pointer)."""
    out = []
    i = j = 0
    while i < len(a) and j < len(b):
        s = max(a[i][0], b[j][0])
        e = min(a[i][1], b[j][1])
        if s <= e:
            out.append([s, e])
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return np.asarray(out, dtype=np.int64).reshape(-1, 2)


def _overlaps(first: np.ndarray, last: np.ndarray, ranges: np.ndarray) -> np.ndarray:
    """Per-block mask: does [first,last] overlap any allowed range?"""
    if len(ranges) == 0:
        return np.zeros(len(first), dtype=bool)
    starts, ends = ranges[:, 0], ranges[:, 1]
    # for each block, the candidate range with the greatest start <= last
    idx = np.searchsorted(starts, last, side="right") - 1
    ok = idx >= 0
    ok[ok] &= ends[idx[ok]] >= first[ok]
    return ok


def _block_ub_tfn(max_tf: np.ndarray, min_dl: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-block BM25 tf-normalization UPPER BOUND, evaluated at serve time.

    The packed blocks store avgdl-independent extremes (block_max_tf,
    block_min_dl); tfn is monotone increasing in tf and decreasing in
    doclen, so tfn(max_tf, min_dl, avgdl) >= every entry's tfn. Uses the
    exact float64 expression of _batch_score_shard, so a single-entry block's
    bound equals its score bit-for-bit (never below it)."""
    k1, b = S.BM25_K1, S.BM25_B
    frac = S.BM25_K1 / avgdl
    tf = max_tf.astype(np.float64)
    dl = min_dl.astype(np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + frac * dl))


def _term_cover(pdfs: list[pd.DataFrame]) -> dict[str, np.ndarray]:
    """term -> merged union of its blocks' [first,last] doc ranges."""
    cover: dict[str, list] = {}
    for pdf in pdfs:
        for term, grp in pdf.groupby("term"):
            cover.setdefault(term, []).append(
                np.stack([grp["first_doc_id"].to_numpy(), grp["last_doc_id"].to_numpy()], 1)
            )
    return {t: _merge_union(np.concatenate(c)) for t, c in cover.items()}


def _and_needed(union: dict[str, np.ndarray], and_items) -> dict[str, np.ndarray]:
    """Block-skip analogue of the reference's galloping AND merge
    (postmerge.c:103-140 jump over skip lists): a block of term t needs
    decoding only if it overlaps the intersection of ALL terms' covered
    doc ranges for some conjunctive query using t.
    Returns term -> allowed interval array."""
    needed: dict[str, np.ndarray] = {}
    for _, kws, _ in and_items:
        terms = [t for _, t, _ in kws]
        if any(t not in union for t in terms):
            continue  # a term absent from this shard: AND result empty here
        q_range = union[terms[0]]
        for t in terms[1:]:
            q_range = _intersect(q_range, union[t])
            if len(q_range) == 0:
                break
        if len(q_range) == 0:
            continue
        for t in terms:
            needed[t] = (
                q_range if t not in needed
                else _merge_union(np.concatenate([needed[t], q_range]))
            )
    return needed


def _conjunctive_skip_mask(pdfs: list[pd.DataFrame], qitems) -> dict[str, np.ndarray] | None:
    """_and_needed over a conjunctive-only workload, or None when any query
    is disjunctive (an unpruned OR query needs every block of its terms)."""
    if any(mode != "and" for _, _, mode in qitems):
        return None
    return _and_needed(_term_cover(pdfs), qitems)


class _Rows(NamedTuple):
    """Decoded block rows: per row its term, entry count and position
    count; the entry and position arrays flat, in row order."""

    terms: np.ndarray
    n: np.ndarray
    npos: np.ndarray
    ids: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray
    pos: np.ndarray | None


def _decode_rows(pdfs: list[pd.DataFrame], want_pos: bool) -> _Rows:
    """Every block row of ``pdfs`` (frames with ``_BLOB_COLS``), decoded as
    ONE varbyte stream per column (blocks.decode_blocks) instead of four
    decode calls per row."""

    def col(name: str) -> list:
        return [v for pdf in pdfs for v in pdf[name].tolist()]

    def stream(name: str) -> np.ndarray:
        return np.frombuffer(b"".join(col(name)), dtype=np.uint8)

    n = np.array(col("n"), dtype=np.int64)
    terms = np.array(col("term"), dtype=object)
    ids, tfs, dls, pos = decode_blocks(
        n,
        stream("doc_ids_blob"),
        stream("tfs_blob"),
        stream("doclens_blob"),
        stream("positions_blob") if want_pos else None,
    )
    npos = np.zeros(len(n), dtype=np.int64)
    if want_pos:
        ctf = np.zeros(len(tfs) + 1, dtype=np.int64)
        np.cumsum(tfs, out=ctf[1:])
        ends = np.cumsum(n)
        npos = ctf[ends] - ctf[ends - n]
    return _Rows(terms, n, npos, ids, tfs, dls, pos if want_pos else None)


def _segments(lens: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Flat indices of the segments ``order`` (segment ``i`` holds ``lens[i]``
    consecutive items), concatenated in that order."""
    starts = np.cumsum(lens) - lens
    take = lens[order]
    offs = np.cumsum(take) - take
    return np.repeat(starts[order] - offs, take) + np.arange(int(take.sum()))


def _by_term(rows: _Rows, sel: np.ndarray | None = None) -> dict:
    """term -> (ids, tfs, dls, pos) over the rows ``sel`` (default: all),
    each term's rows concatenated in row order."""
    if sel is None:
        sel = np.arange(len(rows.n))
    if not len(sel):
        return {}
    codes, uniq = pd.factorize(rows.terms[sel])
    order = sel[np.argsort(codes, kind="stable")]
    ent = _segments(rows.n, order)
    ids, tfs, dls = rows.ids[ent], rows.tfs[ent], rows.dls[ent]
    pos = rows.pos[_segments(rows.npos, order)] if rows.pos is not None else None
    # each term's rows are contiguous in ``order``: its bounds in the
    # gathered entry / position arrays
    row_end = np.cumsum(np.bincount(codes))
    e_end = np.cumsum(rows.n[order])[row_end - 1]
    p_end = np.cumsum(rows.npos[order])[row_end - 1]
    out = {}
    e0 = p0 = 0
    for term, e1, p1 in zip(uniq, e_end.tolist(), p_end.tolist()):
        out[term] = (
            ids[e0:e1], tfs[e0:e1], dls[e0:e1], pos[p0:p1] if pos is not None else None
        )
        e0, p0 = e1, p1
    return out


def _decode_partition(batches: Iterator[pd.DataFrame], want_pos: bool, qitems=None):
    """Accumulate decoded posting arrays per term for one shard.

    With a conjunctive-only workload, blocks outside the AND-coverage
    intersection are skipped before decode (never varbyte-decoded)."""
    pdfs = [pdf for pdf in batches if not pdf.empty]
    skip = _conjunctive_skip_mask(pdfs, qitems) if qitems else None
    if skip is not None:
        kept = []
        for pdf in pdfs:
            first = pdf["first_doc_id"].to_numpy()
            last = pdf["last_doc_id"].to_numpy()
            mask = np.zeros(len(pdf), dtype=bool)
            for term, grp_idx in pdf.groupby("term").indices.items():
                allowed = skip.get(term)
                if allowed is None or len(allowed) == 0:
                    continue
                mask[grp_idx] = _overlaps(first[grp_idx], last[grp_idx], allowed)
            kept.append(pdf[mask])
        pdfs = kept
    return _by_term(_decode_rows(pdfs, want_pos))


def _filter_decoded(decoded: dict, ranges: np.ndarray, terms=None) -> dict:
    """Keep only posting entries whose doc_id lies in the merged, sorted
    ``ranges`` (inclusive). Positions (flat stream, per-entry length == tf)
    are masked with np.repeat so the stream stays aligned. ``terms``
    restricts the output to one query's keywords (batch mode shares a
    single decoded dict across the workload)."""
    if len(ranges) == 0:
        return {}
    starts, ends = ranges[:, 0], ranges[:, 1]
    out = {}
    items = (
        decoded.items()
        if terms is None
        else ((t, decoded[t]) for t in terms if t in decoded)
    )
    for term, (ids, tfs, dls, pos) in items:
        idx = np.searchsorted(starts, ids, side="right") - 1
        keep = idx >= 0
        keep[keep] &= ids[keep] <= ends[idx[keep]]
        if not keep.any():
            continue
        if pos is not None and len(pos):
            pos = pos[np.repeat(keep, tfs)]
        out[term] = (ids[keep], tfs[keep], dls[keep], pos)
    return out


def _interval_sweep(
    meta: pd.DataFrame, idfs: dict[str, float], n_terms: int, thresh: float, avgdl: float
):
    """Elementary-interval upper-bound sweep over block metadata.

    Returns surviving [start, end] doc_id intervals (inclusive). An interval
    survives iff ln(1.3) + 0.5*(1 + sum_t max(ub_t, 0)) + 10000*n_terms >= T
    where ub_t is the max covering-block upper bound of term t there
    (idf * tfn(block_max_tf, block_min_dl, avgdl) — serve-time evaluation
    of the avgdl-independent block-max metadata).
    """
    pts = np.unique(np.r_[meta["first_doc_id"].to_numpy(), meta["last_doc_id"].to_numpy() + 1])
    if len(pts) < 2:
        return [(int(meta["first_doc_id"].min()), int(meta["last_doc_id"].max()))]
    starts = pts[:-1]
    total_ub = np.zeros(len(starts), dtype=np.float64)
    for term, grp in meta.groupby("term"):
        idf = idfs[term]
        ub = np.zeros(len(starts), dtype=np.float64)
        f = grp["first_doc_id"].to_numpy()
        l = grp["last_doc_id"].to_numpy()
        u = np.maximum(
            _block_ub_tfn(
                grp["block_max_tf"].to_numpy(), grp["block_min_dl"].to_numpy(), avgdl
            )
            * idf,
            0.0,
        )
        # for each elementary interval, max ub among covering blocks
        for bf, bl, bu in zip(f, l, u):
            lo = np.searchsorted(starts, bf, "left")
            hi = np.searchsorted(starts, bl, "right")
            np.maximum(ub[lo:hi], bu, out=ub[lo:hi])
        total_ub += ub
    bound = math.log(1.3) + 0.5 * (1.0 + total_ub) + S.MATCH_DIM_WEIGHT * n_terms
    keep = bound >= thresh
    out = []
    for i in np.flatnonzero(keep):
        out.append((int(starts[i]), int(pts[i + 1] - 1)))
    return out


class _RowDecoder:
    """Per-block decode cache: every block row decodes AT MOST once per
    shard pass, no matter how many queries' masks select it; the rows of
    one ``decode`` call decode as one stream per column."""

    def __init__(self, meta: pd.DataFrame, want_pos: bool):
        self.want_pos = want_pos
        self._meta = meta
        self._slot = np.full(len(meta), -1, dtype=np.int64)  # row -> decoded row
        self._rows: _Rows | None = None

    def decode(self, mask: np.ndarray) -> None:
        todo = np.flatnonzero(mask & (self._slot < 0))
        if not len(todo):
            return
        new = _decode_rows([self._meta.take(todo)], self.want_pos)
        done = 0 if self._rows is None else len(self._rows.n)
        self._slot[todo] = done + np.arange(len(todo))
        if self._rows is not None:
            new = _Rows(
                *(
                    None if have is None else np.concatenate([have, add])
                    for have, add in zip(self._rows, new)
                )
            )
        self._rows = new

    def gather(self, mask: np.ndarray) -> dict:
        """Assemble the per-term decoded dict from cached rows under mask."""
        if self._rows is None:
            return {}
        return _by_term(self._rows, self._slot[np.flatnonzero(mask)])


def _batch_wand_shard(pdfs: list, qitems, avgdl: float, k: int, with_prox: bool):
    """Shard-local block-max WAND over a whole workload in ONE sweep.

    The reference's score-threshold pruning over skip lists
    (search/search-utils.c:322-335 + mem-index/skippy.h) re-expressed
    per shard with NO driver round-trips (Ding & Suel, SIGIR'11),
    generalized to a batch: every disjunctive query seeds its own
    threshold and prunes its own intervals; conjunctive queries get the
    galloping-AND coverage skip; the union of all queries' surviving
    blocks is varbyte-decoded ONCE (_RowDecoder), then each query scores
    over its own survivor ranges (out-of-range entries are dropped — their
    term sums would be partial AND they are provably below that query's
    threshold).

      1. seed: per OR query, exactly score the doc range of its single
         highest-upper-bound block (idf * serve-time block-max tfn) -> threshold T =
         the query's local kth best total (a valid lower bound);
      2. sweep each query's block metadata into elementary doc intervals;
         an interval whose summed covering upper bounds (+ max prox ln 1.3
         + full match-dim bonus) stays below T cannot hold a local top-k
         doc for that query;
      3. decode the union of surviving blocks once, score each query over
         its survivors, local top-k per query.

    Pruned == full equality (single + batch) is asserted in
    tests/test_wand.py. Yields (qid, result) pairs."""
    if not pdfs:
        return
    meta = pd.concat(pdfs, ignore_index=True)
    first = meta["first_doc_id"].to_numpy()
    last = meta["last_doc_id"].to_numpy()
    tfn = _block_ub_tfn(
        meta["block_max_tf"].to_numpy(), meta["block_min_dl"].to_numpy(), avgdl
    )
    # per-term block row indices, computed ONCE for the whole workload
    tindex = {t: np.asarray(ix) for t, ix in meta.groupby("term").indices.items()}
    dec = _RowDecoder(meta, with_prox)
    n_rows = len(meta)

    or_items = [qi for qi in qitems if qi[2] == "or" and qi[1]]
    and_items = [qi for qi in qitems if qi[2] == "and" and qi[1]]

    def _score_or(qid, kws, decoded):
        """One OR query over its own filtered postings -> result or None."""
        got = _batch_score_shard([(qid, kws, "or")], decoded, avgdl, k, with_prox)
        return next((res for _, res in got), None)

    def _rows_of(kws) -> np.ndarray:
        hit = [tindex[t] for _, t, _ in kws if t in tindex]
        return np.concatenate(hit) if hit else np.empty(0, dtype=np.int64)

    # --- phase 1: per-OR-query seed block ---------------------------------
    seeds: dict[str, tuple] = {}  # qid -> (rows_q, seed_range, idfs)
    seed_union = np.zeros(n_rows, dtype=bool)
    for qid, kws, _ in or_items:
        rows_q = _rows_of(kws)
        if len(rows_q) == 0:
            continue  # no query term has blocks in this shard
        idfs = {t: float(i) for _, t, i in kws}
        row_idf = np.concatenate(
            [np.full(len(tindex[t]), idfs[t]) for _, t, _ in kws if t in tindex]
        )
        ub = np.maximum(tfn[rows_q] * row_idf, 0.0)
        bi = int(rows_q[np.argmax(ub)])
        seed = np.array([[int(first[bi]), int(last[bi])]], dtype=np.int64)
        seeds[qid] = (rows_q, seed, idfs)
        smask = np.zeros(n_rows, dtype=bool)
        smask[rows_q[_overlaps(first[rows_q], last[rows_q], seed)]] = True
        seed_union |= smask
    dec.decode(seed_union)
    seed_decoded = dec.gather(seed_union)

    # --- phase 2: thresholds + interval sweeps per OR query ---------------
    done: dict[str, tuple | None] = {}
    ranges_by_q: dict[str, np.ndarray] = {}
    for qid, kws, _ in or_items:
        if qid not in seeds:
            done[qid] = None
            continue
        rows_q, seed, idfs = seeds[qid]
        decoded = _filter_decoded(seed_decoded, seed, terms=[t for _, t, _ in kws])
        res = _score_or(qid, kws, decoded)
        thresh = float(res[5][k - 1]) if res is not None and len(res[0]) >= k else -math.inf
        intervals = _interval_sweep(meta.take(rows_q), idfs, len(kws), thresh, avgdl)
        if not intervals:
            done[qid] = res  # everything outside the seed is provably below T
            continue
        ranges_by_q[qid] = _merge_union(np.asarray(intervals, dtype=np.int64))

    # --- phase 3: union decode of survivors + AND coverage, then score ----
    big = np.zeros(n_rows, dtype=bool)
    for qid, rng in ranges_by_q.items():
        rows_q = seeds[qid][0]
        big[rows_q[_overlaps(first[rows_q], last[rows_q], rng)]] = True
    needed = _and_needed(_term_cover(pdfs), and_items) if and_items else {}
    and_mask = np.zeros(n_rows, dtype=bool)
    for term, allowed in needed.items():
        if len(allowed) == 0 or term not in tindex:
            continue
        ix = tindex[term]
        and_mask[ix[_overlaps(first[ix], last[ix], allowed)]] = True
    big |= and_mask
    dec.decode(big)
    # ONE shared decoded dict for the whole workload; each query filters
    # only ITS OWN terms down to its surviving ranges
    shared = dec.gather(big)
    for qid, kws, _ in or_items:
        if qid in done:
            if done[qid] is not None:
                yield qid, done[qid]
            continue
        rng = ranges_by_q[qid]
        decoded = _filter_decoded(shared, rng, terms=[t for _, t, _ in kws])
        res = _score_or(qid, kws, decoded)
        if res is not None:
            yield qid, res
    # extra decoded entries outside a query's own coverage intersection are
    # harmless: a doc there cannot carry ALL the query's terms, so the
    # n_matched == n_terms predicate removes it
    yield from _batch_score_shard(and_items, shared, avgdl, k, with_prox)


# Minimum docs a serving shard should cover before another shard pays off:
# an index under 2x this is ONE shard, served as one Spark job. From a docN
# sweep on a 4-core host (local[4], perfbench pages and queries, median
# seconds per 64-query batch from one client, and batch-mix QPS of 4
# closed-loop clients, one shard vs four):
#   4k docs:  0.60-0.70 s vs 0.62-0.67 s;  242-245 vs  89-105 QPS
#   8k docs:  0.58-0.70 s vs 0.65-0.68 s;  200-228 vs  90-93 QPS
#  12k docs:  0.88-0.91 s vs 0.70-0.75 s;  162-168 vs  86 QPS
#  16k docs:  0.93-0.95 s vs 0.74-0.77 s;  155-160 vs  67-101 QPS
#  32k docs:  1.45-1.52 s vs 0.92-0.97 s;   96-110 vs  61-64 QPS
# One client's batch stops gaining from one shard near 8k docs, the
# crossover this constant sets; 4 clients keep the cores busy with whole
# batches, so one shard wins for them at every size measured. Past
# cores * this, one shard per core.
SERVE_DOCS_PER_SHARD = 4000


def serving_coalesce(df: DataFrame, docN: int | None = None) -> tuple[DataFrame, int]:
    """Normalize the block frame to the serving shard count; returns the
    frame and its number of shards.

    The BUILD wants ~4 tasks/core for load balance, but at SERVE time each
    mapInPandas task scores the whole query batch against its shard, so
    per-task kernel overhead multiplies with the shard count: measured on
    a 512-query batch over a 20k-doc index at local[32], 128 shards =
    201 QPS vs 32 shards = 378 QPS (identical results). coalesce() merges
    whole parent partitions, so the doc-sharded invariant (every block of
    a doc in one shard) is preserved, and the grouping is deterministic
    for a given parent count. On a real cluster the target is the
    cluster's total cores (defaultParallelism), i.e. one serving shard per
    executor core — scaled DOWN for small indexes so a shard covers at
    least ``SERVE_DOCS_PER_SHARD`` docs. Override with
    $SPARK_GRAFT_SERVE_SHARDS.
    """
    sc = df.sparkSession.sparkContext
    default = sc.defaultParallelism
    if docN is not None:
        default = max(1, min(default, int(docN) // SERVE_DOCS_PER_SHARD))
    target = int(os.environ.get("SPARK_GRAFT_SERVE_SHARDS", default))
    n = df.rdd.getNumPartitions()
    return (df.coalesce(target), target) if n > target else (df, n)


_POS_BITS = 21  # combined sort key: doc_id << 21 | position


def _probe(keys: np.ndarray, q: np.ndarray):
    """Positions of ``q`` in the sorted unique ``keys`` + found mask."""
    at = np.searchsorted(keys, q)
    hit = at < len(keys)
    hit[hit] = keys[at[hit]] == q[hit]
    return at, hit


def _pack_stream(pdoc: np.ndarray, pos: np.ndarray):
    """One keyword's (doc, position) stream -> (packed sort key, None), or
    (None, (pdoc, pos)) when doc ids or positions overflow the layout."""
    if pdoc.max() < (1 << 42) and pos.max() < (1 << _POS_BITS):
        return (pdoc << _POS_BITS) | pos, None
    return None, (pdoc, pos)


def _batch_score_shard(qitems, decoded, avgdl, k, with_prox, math=None):
    """Score a whole workload against one shard's decoded postings.

    The engine's one BM25 scorer. Per-TERM work — tf normalization, the idf
    product, the tf-expanded position stream and its combined (doc,pos) sort
    key — is computed ONCE and shared by every query that uses the term. Under a Zipf workload the hot terms appear in
    dozens of concurrent queries, so the per-query loop was recomputing the
    same ``np.repeat``/divide arrays 64+ times per shard (measured: ~410s
    of kernel scoring for 512 queries x 64 shards at 400k docs, vs ~90s
    with the cache). The two-key ``np.lexsort((pos, doc))`` per query is
    replaced by a single-key argsort of the precomputed packed key — gaps
    between same-doc neighbors equal the key difference, because equal doc
    bits cancel. Falls back to the two-array lexsort when positions or doc
    ids overflow the packed layout (doc_id < 2^42, pos < 2^21 — at 10^12
    docs the ids still fit).

    ``math``: the optional per-doc math channel of a mixed term+math query
    (math/search.py), ``(mdoc, mscore, streams)``: sorted doc ids with a
    matched expression, their max expression score, and one
    ``(kw_idx, doc ids, positions)`` stream per TeX keyword. A term-matched
    doc then scores the reference's mixed total
    prox + (1+max_math)/2*bm25 + 10000*(match_dim + [max_math>0])
    (search/search.c:253-274), which reduces to the term-only total at
    max_math = 0; its matched-expression positions join the proximity merge
    as extra keywords (search/search.c:215-237). Every term-matched math doc
    is emitted beside the local top-k, so the caller can tell it from a
    math-only doc, and each result carries max_math as a 7th array.
    """
    k1, b = S.BM25_K1, S.BM25_B
    frac = S.BM25_K1 / avgdl
    cache: dict[tuple, tuple] = {}

    def entry(term, idf):
        key = (term, idf)
        ent = cache.get(key)
        if ent is None:
            got = decoded.get(term)
            if got is None:
                ent = None
            else:
                ids, tfs, dls, pos = got
                tf = tfs.astype(np.float64)
                dl = dls.astype(np.float64)
                sc = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + frac * dl))
                stream = (None, None)
                if with_prox and pos is not None and len(pos):
                    stream = _pack_stream(np.repeat(ids, tfs), pos)
                ent = (ids, sc, stream)
            cache[key] = ent
        return ent

    def add_stream(kw_idx, stream, row_key, row_kw, row_fb):
        pkey, pfallback = stream
        if pkey is not None:
            row_key.append(pkey)
            row_kw.append(np.full(len(pkey), kw_idx, dtype=np.int64))
        elif pfallback is not None:
            row_fb.append((kw_idx, *pfallback))

    for qid, terms_kw, mode in qitems:
        row_doc, row_score = [], []
        row_key, row_kw = [], []
        row_fb = []
        for kw_idx, term, idf in terms_kw:
            ent = entry(term, idf)
            if ent is None:
                continue
            ids, sc, stream = ent
            row_doc.append(ids)
            row_score.append(sc)
            add_stream(kw_idx, stream, row_key, row_kw, row_fb)
        if not row_doc:
            continue
        doc = np.concatenate(row_doc)
        score = np.concatenate(row_score)
        udoc, inv = np.unique(doc, return_inverse=True)
        n = len(udoc)
        bm25 = np.full(n, 1.0)
        nz = score != 0.0
        np.add.at(bm25, inv[nz], score[nz])
        match_dim = np.zeros(n)
        np.add.at(match_dim, inv[nz], 1.0)
        n_matched = np.zeros(n, dtype=np.int64)
        np.add.at(n_matched, inv, 1)

        mm = None
        if math is not None:
            # math component of the term-matched docs (vectorized key probe)
            mdoc, mscore, streams = math
            mm = np.zeros(n)
            at, hit = _probe(udoc, mdoc)
            mm[at[hit]] = mscore[hit]
            for kw_idx, sdoc, spos in streams if with_prox else ():
                hit = _probe(udoc, sdoc)[1]
                if hit.any():
                    add_stream(
                        kw_idx, _pack_stream(sdoc[hit], spos[hit]), row_key, row_kw, row_fb
                    )

        mind = np.full(n, np.inf)
        if row_fb:
            # overflow fallback: route EVERY stream through the two-key
            # lexsort (mixing packed and unpacked orders would miss gaps)
            for pk, kwv in zip(row_key, row_kw):
                row_fb.append((int(kwv[0]) if len(kwv) else 0, pk >> _POS_BITS,
                               pk & ((1 << _POS_BITS) - 1)))
            pdoc = np.concatenate([f[1] for f in row_fb])
            pkw = np.concatenate(
                [np.full(len(f[1]), f[0], dtype=np.int64) for f in row_fb]
            )
            ppos = np.concatenate([f[2] for f in row_fb])
            order = np.lexsort((ppos, pdoc))
            pdoc, pkw, ppos = pdoc[order], pkw[order], ppos[order]
            sel = (pdoc[1:] == pdoc[:-1]) & (pkw[1:] != pkw[:-1])
            if sel.any():
                gidx = np.searchsorted(udoc, pdoc[1:][sel])
                np.minimum.at(
                    mind, gidx, (ppos[1:] - ppos[:-1])[sel].astype(np.float64)
                )
        elif row_key:
            keys = np.concatenate(row_key)
            kws_ = np.concatenate(row_kw)
            order = np.argsort(keys, kind="stable")
            keys, kws_ = keys[order], kws_[order]
            d = keys >> _POS_BITS
            sel = (d[1:] == d[:-1]) & (kws_[1:] != kws_[:-1])
            if sel.any():
                gidx = np.searchsorted(udoc, d[1:][sel])
                np.minimum.at(
                    mind, gidx, (keys[1:] - keys[:-1])[sel].astype(np.float64)
                )
        if with_prox and (row_fb or row_key):
            prox = np.log(0.3 + np.exp(-mind))
        else:
            prox = np.full(n, S.LN_03)

        if mode == "and":
            keep = n_matched == len(terms_kw)
            if not keep.any():
                continue
            udoc, bm25, match_dim, n_matched, prox = (
                udoc[keep], bm25[keep], match_dim[keep], n_matched[keep], prox[keep]
            )
            if mm is not None:
                mm = mm[keep]
        if mm is None:
            total = prox + 0.5 * bm25 + S.MATCH_DIM_WEIGHT * match_dim
            top = np.lexsort((udoc, -total))[:k]
            out = (udoc, bm25, match_dim, n_matched, prox, total)
        else:
            total = prox + (1.0 + mm) / 2.0 * bm25 + S.MATCH_DIM_WEIGHT * (match_dim + (mm > 0))
            top = np.zeros(len(udoc), dtype=bool)
            top[np.lexsort((udoc, -total))[:k]] = True
            top |= mm > 0
            out = (udoc, bm25, match_dim, n_matched, prox, total, mm)
        yield qid, tuple(c[top] for c in out)


# Measured on the 20k-doc synthetic index (local[32], best-of-2): batch
# WAND beats unpruned up to ~32 concurrent disjunctive queries (1 query:
# 0.45s vs 0.55s) and loses beyond (~128: 1.15s vs 0.86s) — with hundreds
# of queries sharing a Zipf vocabulary the union of per-query survivors
# covers essentially every block, so nothing is saved on decode and the
# per-query seed+sweep is pure overhead. Above this cap the engine serves
# the batch unpruned (identical results; the pruning is an optimization,
# never a semantic).
PRUNE_MAX_OR_BATCH = 32


def _block_idf(qitems, pdfs: list[pd.DataFrame], docN: float):
    """Fill in every keyword's idf from its df, the sum of its blocks' ``n``
    posting counts. Valid only where ``pdfs`` hold EVERY block of each
    query term (one serving shard): there that sum is ``term_stats.df``,
    which is built as the same sum."""
    df: dict[str, int] = {}
    for pdf in pdfs:
        for term, n in pdf.groupby("term")["n"].sum().items():
            df[term] = df.get(term, 0) + int(n)
    return [
        (qid, [(i, t, S.idf(float(df.get(t, 0)), docN)) for i, t, _ in kws], mode)
        for qid, kws, mode in qitems
    ]


def shard_search(
    spark: SparkSession,
    index,
    queries: dict[str, tuple[str, str]],
    k: int = S.RANK_K,
    with_prox: bool = True,
    prune: bool = False,
) -> DataFrame:
    """Batch serve over the doc-sharded blocks: the whole ``doc_blocks``
    table, on a warmed engine too (its decoded pool is the driver's,
    plans/cache.py).

    ``queries``: qid -> (qtext, mode). Returns
    (qid, rank, doc_id, bm25, match_dim, n_matched_terms, prox, score).

    On ONE serving shard the batch is one Spark job with no exchange: that
    shard holds every block of every query term, so the kernel takes each
    term's idf from its blocks (``_block_idf``) and its local top-k, in
    (score DESC, doc_id ASC) order, is the global top-k with its ranks.
    Past one shard, idf comes from ``resolve_keywords`` (at most one
    term_stats lookup per batch) and a rank window merges the n_shards * k
    candidate rows.

    ``prune=True`` routes the WHOLE workload (any mix of or/and) through
    the shard-local batch block-max WAND (_batch_wand_shard): one sweep,
    per-qid thresholds, each surviving block decoded once — unless the
    workload exceeds PRUNE_MAX_OR_BATCH disjunctive queries, where pruning
    provably saves nothing (see the constant's note) and the batch serves
    unpruned. Without prune, conjunctive-only workloads still get the
    AND-coverage block skip.
    """
    serving, n_shards = serving_coalesce(index.doc_blocks, docN=index.docN)
    one_shard = n_shards <= 1
    if one_shard:
        qitems = [
            (qid, [(i, t, None) for i, t in enumerate(terms)], mode)
            for qid, (terms, mode) in _digest(queries).items()
        ]
    else:
        qitems = [
            (qid, kws, mode)
            for qid, (kws, mode) in resolve_keywords(spark, index, queries).items()
        ]
    all_terms = sorted({t for _, kws, _ in qitems for _, t, _ in kws})
    if not all_terms:
        return spark.createDataFrame([], _OUT_SCHEMA)
    blocks = serving.filter(sql_in("term", all_terms))
    avgdl = index.avgdl
    docN = float(index.docN)
    if prune and sum(1 for _, kws, m in qitems if m == "or" and kws) > PRUNE_MAX_OR_BATCH:
        prune = False

    def _frame(qid, res):
        udoc, bm25, match_dim, n_matched, prox, total = res
        return pd.DataFrame(
            {
                "qid": qid,
                "rank": np.arange(1, len(udoc) + 1, dtype=np.int32),
                "doc_id": udoc,
                "bm25": bm25,
                "match_dim": match_dim,
                "n_matched_terms": n_matched,
                "prox": prox,
                "score": total,
            }
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [pdf for pdf in batches if not pdf.empty]
        items = _block_idf(qitems, pdfs, docN) if one_shard else qitems
        if prune:
            results = _batch_wand_shard(pdfs, items, avgdl, k, with_prox)
        else:
            decoded = _decode_partition(pdfs, want_pos=with_prox, qitems=items)
            results = _batch_score_shard(items, decoded, avgdl, k, with_prox)
        frames = [_frame(qid, res) for qid, res in results]
        if frames:
            yield pd.concat(frames, ignore_index=True)

    local = blocks.mapInPandas(kernel, _OUT_SCHEMA)
    if one_shard:
        return local
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return local.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


_DF_CACHE_MAX = 1_000_000  # bounded: a hostile query stream cannot grow driver memory


def df_lookup(index, terms: list[str]) -> dict[str, float]:
    """term -> df for ``terms``, through a bounded per-index dictionary cache.

    The reference daemon holds its term dictionary hot across requests
    (Indri's term lookup + indices/postcache.c); the Spark twin is a plain
    dict on the index handle. Only terms not yet seen run the term_stats
    lookup — a term-filtered aggregate over the blocks' ``n`` counts (the
    ``term_stats`` view) — so a steady-state serving session pays it once
    per NEW term, not once per query. Absent terms cache as df=0 (the dictionary
    answers "not in vocabulary" without re-probing). The cache clears at
    ``_DF_CACHE_MAX`` entries so driver memory stays bounded at web-scale
    vocabularies; index handles are immutable (merge builds a new one), so
    entries can never go stale.
    """
    cache = getattr(index, "_df_cache", None)
    if cache is None:
        cache = {}
        index._df_cache = cache
    missing = [t for t in terms if t not in cache]
    if missing:
        rows = (
            index.term_stats.filter(sql_in("term", missing))
            .select("term", "df")
            .collect()
        )
        got = {r["term"]: float(r["df"]) for r in rows}
        if len(cache) + len(missing) > _DF_CACHE_MAX:
            cache.clear()
        for t in missing:
            cache[t] = got.get(t, 0.0)
    return {t: cache[t] for t in terms}


_BLOB_COLS = ["term", "n", "doc_ids_blob", "tfs_blob", "doclens_blob", "positions_blob"]


def decode_pool(rows: pd.DataFrame) -> dict:
    """Block rows (``_BLOB_COLS``) decoded once:
    term -> (ids, tfs, dls, pos), positions included. One decode per term:
    its temporaries stay the size of one term's postings, not the pool's."""
    out = {}
    for _, g in rows.groupby("term", sort=False):
        out.update(_by_term(_decode_rows([g], True)))
    return out


def fetch_postings(index, terms: list[str]) -> dict:
    """``decode_pool`` of every block of ``terms``, brought to the driver
    by ONE term-filtered collect; no terms, no Spark job."""
    if not terms:
        return {}
    rows = index.doc_blocks.filter(sql_in("term", terms)).select(*_BLOB_COLS).collect()
    return decode_pool(pd.DataFrame(rows, columns=_BLOB_COLS))


def driver_search(
    index, queries: dict[str, tuple[str, str]], k: int = S.RANK_K
) -> dict[str, tuple] | None:
    """Score a batch of queries IN THE DRIVER, the reference searchd's
    one-process shape (indices/postcache.c:62-131, search/search.c:48-80):
    cached terms come from the decoded posting-cache pool
    (``InvertedIndex.hot_postings``), and every other term of the batch
    arrives with ONE Spark job, a term-filtered collect of its blocks.

    ``queries``: qid -> (qtext, mode). Returns qid -> the scorer's result
    tuple (doc ids, bm25, match_dim, n_matched, prox, score), in (score
    DESC, doc_id ASC) order, at most ``k`` long; a qid without hits is
    absent. Proximity is on, as in ``search``.

    Same answers as ``search``/``search_many``: one scorer over all
    postings keeps the same top-k as the merge of the per-shard top-k
    lists, and idf comes from each term's posting count, which is its
    ``term_stats.df`` (df sums the blocks' entry counts), so no term_stats
    lookup runs.

    Bound: the pool is the df-descending prefix of the vocabulary
    (plans/cache.build_posting_cache), so every cold term's df is at most
    the pool's smallest df. The batch is scored here only while its cold
    terms, at that bound, bring at most as many postings as the pool holds;
    the driver then never decodes more per batch than the budget already
    keeps decoded. Otherwise (and always without a pool, where a term can
    bring docN postings) this returns None before any Spark job, and the
    caller ranks the batch on the executors.
    """
    digested = _digest(queries)
    terms = sorted({t for ts, _ in digested.values() for t in ts})
    pool = index.hot_postings or {}
    decoded = {t: pool[t] for t in terms if t in pool}
    cold = [t for t in terms if t not in pool]
    if cold:
        sizes = [len(v[0]) for v in pool.values()]
        if not sizes or len(cold) * min(sizes) > sum(sizes):
            return None
        decoded.update(fetch_postings(index, cold))
    docN = float(index.docN)
    qitems = [
        (
            qid,
            [
                (i, t, S.idf(float(len(decoded[t][0])) if t in decoded else 0.0, docN))
                for i, t in enumerate(ts)
            ],
            mode,
        )
        for qid, (ts, mode) in digested.items()
    ]
    return dict(_batch_score_shard(qitems, decoded, index.avgdl, k, True))


def _digest(queries: dict[str, tuple[str, str]]) -> dict[str, tuple[list[str], str]]:
    """qid -> (qtext, mode)  =>  qid -> (keywords, mode)."""
    from .query import digest_query

    return {qid: (digest_query(qtext), mode) for qid, (qtext, mode) in queries.items()}


def resolve_keywords(spark: SparkSession, index, queries: dict[str, tuple[str, str]]):
    """qid -> (qtext, mode)  =>  qid -> ([(kw_idx, term, idf)], mode).

    At most one tiny term_stats lookup for the whole batch (reference
    Q3/Q5), and none at all when every term is already in the index's
    df dictionary cache (``df_lookup``)."""
    digested = _digest(queries)
    all_terms = sorted({t for ts, _ in digested.values() for t in ts})
    if not all_terms:
        return {qid: ([], mode) for qid, (_, mode) in digested.items()}
    dfmap = df_lookup(index, all_terms)
    out = {}
    for qid, (terms, mode) in digested.items():
        kws = [
            (i, t, S.idf(dfmap.get(t, 0.0), float(index.docN)))
            for i, t in enumerate(terms)
        ]
        out[qid] = (kws, mode)
    return out
