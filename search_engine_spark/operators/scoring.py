"""BM25 + proximity + total-score semantics of the reference, verbatim.

Formulas (replicated exactly, quirks included, for rank-identity):

- idf(df, N) = ln((N - df + 0.5) / (df + 0.5))      search/bm25-score.c:53-56
  (no floor: a term in >half the corpus scores NEGATIVE)
- per-term:  idf * tf*(k1+1) / (tf + k1*(1 - b + frac*doclen))
  with b = 0.75, k1 = 1.5                            search/bm25-score.c:42-51
  and the QUIRK frac = k1/avgDocLen (not b/avgDocLen) search/search.c:353
- doc bm25 = 1.0 + sum of *nonzero* per-term scores  search/search.c:173,203-213
- match_dim = count of keywords with nonzero score   search/search.c:207-212
- proximity: minDist = min gap between adjacent positions of *different*
  keywords in the merged position order (== min cross-keyword |p_i - p_j|);
  no qualifying pair => UINT_MAX                      search/proximity.c:23-71
  prox = ln(0.3 + exp(-minDist))                     search/proximity.c:75-80
- math factor = (1 + max_math_score)/2 = 0.5 for term-only queries
                                                     search/search.c:253-258
- total = prox + math_factor * bm25 + 10000 * match_dim
                                                     search/search.c:263-274

The reference computes in float32; the engine's one scorer
(plans/serve._batch_score_shard) computes in float64, and the parity oracle
(oracle.py) can run either. Partial scores are summed in query-keyword
order in the parity oracle.
"""

from __future__ import annotations

import math

import numpy as np

BM25_B = 0.75  # search/bm25-score.h:4
BM25_K1 = 1.5  # search/bm25-score.h:5
MATCH_DIM_WEIGHT = 10000.0  # search/config.h MATCH_DIM_WEIGHT
RANK_K = 155  # search/config.h:29 RANK_SET_DEFAULT_VOL
MAX_DIST = 2**32 - 1  # proximity.h:32 MAX_N_POSITIONS = UINT_MAX
LN_03 = math.log(0.3)


def idf(df: float, docN: float) -> float:
    return math.log((docN - df + 0.5) / (df + 0.5))


def prox_min_dist(pos_lists: list[np.ndarray]) -> int:
    """min adjacent cross-keyword gap in merged position order.

    Equivalent closed form of the reference's n-way merge
    (search/proximity.c:23-71): the minimum over adjacent merged pairs from
    different keywords equals the minimum cross-keyword absolute difference
    (any position interleaved between a closer cross pair would itself form
    a smaller or equal cross gap).
    """
    lists = [np.asarray(p) for p in pos_lists if len(p)]
    if len(lists) < 2:
        return MAX_DIST
    best = MAX_DIST
    for i in range(len(lists)):
        for j in range(i + 1, len(lists)):
            a, b = lists[i], lists[j]
            # merged-adjacency minimum via searchsorted (both sorted)
            idxs = np.searchsorted(a, b)
            left = idxs > 0
            if left.any():
                best = min(best, int(np.min(b[left] - a[idxs[left] - 1])))
            right = idxs < len(a)
            if right.any():
                best = min(best, int(np.min(a[idxs[right]] - b[right])))
    return best


def prox_score(min_dist: int | np.ndarray) -> float | np.ndarray:
    """ln(0.3 + e^-minDist) (proximity.c:75-80).

    The reference computes in float32; we compute in float64 so the engine
    matches SQL oracles bit-for-closely — the float32 vs float64 delta is
    ~1e-7 absolute, far inside the 1e-4 rank-identity tolerance
    (FIXTURES.md §4) and cannot reorder ranks (score gaps are >=1e-3 apart
    or exact ties from duplicate docs).
    """
    d = np.asarray(min_dist, dtype=np.float64)
    # e^-d underflows to 0 for large d -> ln(0.3), matching the reference
    out = np.log(0.3 + np.exp(-d))
    return out if out.ndim else float(out)
