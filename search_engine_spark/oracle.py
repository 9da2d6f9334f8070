"""Independent naive reference scorer (golden oracle for parity tests).

Implements the reference semantics verbatim over plain Python/pandas with no
Spark involvement (FIXTURES.md §4): tokenizer slices, tf cap 2048, unfloored
idf, the frac=k1/avgDocLen quirk, bm25 = 1.0 + sum of nonzero per-term
scores summed in query-keyword order, proximity over capped position lists,
total = prox + 0.5*bm25 + 10000*match_dim, top-155, tie-break
(score DESC, doc_id ASC). ``float32=True`` mirrors the reference's float
arithmetic; ``False`` mirrors the engine's float64 scorer.
"""

from __future__ import annotations

import math

import numpy as np

from .functions.tokenizer import tokenize_text
from .operators import scoring as S

TF_CAP = 2048


def build_naive_index(docs: list[tuple[int, str]]):
    """docs = [(doc_id, text)] -> (postings, doclens, docN, avgdl).

    postings: term -> {doc_id: [positions]} (positions capped to 2048).
    """
    postings: dict[str, dict[int, list[int]]] = {}
    doclens: dict[int, int] = {}
    for doc_id, text in docs:
        toks = tokenize_text(text)
        doclens[doc_id] = len(toks)
        for pos, t in enumerate(toks):
            lst = postings.setdefault(t, {}).setdefault(doc_id, [])
            if len(lst) < TF_CAP:
                lst.append(pos)
            else:
                lst.append(None)  # marker: raw tf beyond cap — count only
    # normalize: store (tf_capped, positions_capped)
    norm: dict[str, dict[int, tuple[int, list[int]]]] = {}
    for t, m in postings.items():
        norm[t] = {}
        for d, lst in m.items():
            capped = [p for p in lst if p is not None][:TF_CAP]
            norm[t][d] = (min(len(lst), TF_CAP), capped)
    docN = len(doclens)
    avgdl = sum(doclens.values()) / docN if docN else 0.0
    return norm, doclens, docN, avgdl


def naive_search(
    docs: list[tuple[int, str]],
    qtext: str,
    mode: str = "or",
    k: int = S.RANK_K,
    float32: bool = False,
) -> list[tuple[int, float]]:
    """Return [(doc_id, total_score)] ranked (score DESC, doc_id ASC)."""
    postings, doclens, docN, avgdl = build_naive_index(docs)
    # digest: dedup keep-first, cap 20
    terms: list[str] = []
    for t in tokenize_text(qtext):
        if t not in terms:
            terms.append(t)
    terms = terms[:20]
    if not terms:
        return []
    f = np.float32 if float32 else float
    k1, b = f(S.BM25_K1), f(S.BM25_B)
    frac = f(S.BM25_K1) / f(avgdl)
    idfs = [f(math.log((docN - len(postings.get(t, {})) + 0.5) / (len(postings.get(t, {})) + 0.5))) for t in terms]

    cand: set[int] = set()
    for t in terms:
        cand |= set(postings.get(t, {}).keys())
    results = []
    for d in cand:
        matched = [t for t in terms if d in postings.get(t, {})]
        if mode == "and" and len(matched) != len(terms):
            continue
        bm25 = f(1.0)
        match_dim = 0
        pos_lists = []
        for i, t in enumerate(terms):
            if d not in postings.get(t, {}):
                continue
            tf, pos = postings[t][d]
            num = f(tf) * (k1 + f(1.0))
            den = f(tf) + k1 * (f(1.0) - b + frac * f(doclens[d]))
            sc = idfs[i] * (num / den)
            if sc != 0:
                bm25 = bm25 + sc
                match_dim += 1
            pos_lists.append(np.asarray(pos))
        mind = S.prox_min_dist(pos_lists)
        prox = f(S.prox_score(mind))
        total = prox + f(0.5) * bm25 + f(S.MATCH_DIM_WEIGHT) * f(match_dim)
        results.append((d, float(total)))
    results.sort(key=lambda r: (-r[1], r[0]))
    return results[:k]
