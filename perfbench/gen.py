"""Seeded inputs for the benchmark: the pages table, the query log and the
daemon / math request lists.

Everything here is a pure function of ``seed`` (numpy ``default_rng``), so
one seed gives byte-identical inputs. The generator also keeps its own
counts (pages, tokens) so the build check does not lean on the engine's
tokenizer: every emitted word is a run of ASCII letters and every
``[imath]...[/imath]`` span is exactly one token.

Corpus properties the engine's behaviour depends on:
- Zipf-distributed vocabulary (head terms hit the posting cache, tail
  terms stream from Parquet);
- one term in more than half of the pages (negative IDF);
- one page with tf > 2048 of one term (the tf cap);
- an exact-duplicate pair (ties broken by doc id);
- ~2% empty-text pages;
- ~10% pages with inline math drawn from a small TeX template grammar.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

VOCAB_SIZE = 20_000
ZIPF_S = 1.07
COMMON_TERM = "common"  # lands in >50% of pages
CAP_TERM = "repeat"  # tf > 2048 on page 0
EMPTY_SHARE = 0.02
MATH_SHARE = 0.10
AND_SHARE = 0.25
OOV_SHARE = 0.05
MAX_TERM_KW = 20  # daemon admission limits (reference searchd/config.h)
MAX_MATH_KW = 4

# reference daemon return codes (searchd/utils.h)
RET_EMPTY_QRY, RET_BAD_JSON, RET_BAD_PAGE = 1, 2, 4
RET_WINDOW_ERR, RET_TOO_MANY_MATH_KW, RET_TOO_MANY_TERM_KW = 5, 6, 7

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocab(n: int = VOCAB_SIZE) -> np.ndarray:
    """Letter-only words 'v' + 4 base-26 digits, rank order = Zipf order."""
    i = np.arange(n)
    digits = [(i // 26**k) % 26 for k in (3, 2, 1, 0)]
    return np.array(["v" + "".join(_LETTERS[d] for d in ds) for ds in zip(*digits)])


def zipf_probs(n: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return p / p.sum()


# ---------------------------------------------------------------- TeX ----
_VARS = ["a", "b", "c", "x", "y", "z", "n"]


def _tex_atom(rng) -> str:
    v = _VARS[rng.integers(len(_VARS))]
    k = int(rng.integers(4))
    if k == 0:
        return v
    if k == 1:
        return f"{v}^{{{int(rng.integers(2, 5))}}}"
    if k == 2:
        w = _VARS[rng.integers(len(_VARS))]
        return f"\\frac{{{v}}}{{{w}}}"
    return f"\\sqrt{{{v}+{int(rng.integers(1, 10))}}}"


def tex_expr(rng) -> str:
    """expr := atom | atom + atom | atom + atom = atom"""
    k = int(rng.integers(3))
    a = _tex_atom(rng)
    if k == 0:
        return a
    b = _tex_atom(rng)
    if k == 1:
        return f"{a}+{b}"
    return f"{a}+{b}={_tex_atom(rng)}"


def tex_variant(tex: str) -> str:
    """A structural neighbour of ``tex``: rename one variable (alpha
    equivalence) or flip a fraction (an ordered operator)."""
    if "\\frac{" in tex:
        i = tex.index("\\frac{") + 6
        j = tex.index("}{", i)
        k = tex.index("}", j + 2)
        return tex[: i] + tex[j + 2 : k] + "}{" + tex[i:j] + tex[k:]
    for v in _VARS:
        if v in tex:
            return tex.replace(v, "m")
    return tex + "+1"


# an operator the template grammar never emits: these keywords match nothing
NOMATCH_TEX = ["\\binom{p}{q}", "\\sum_{i=1}^{k} q", "\\binom{r}{s}+t"]


# -------------------------------------------------------------- pages ----
def make_pages(seed: int, n_pages: int) -> dict:
    """Pages table columns ``(url, warc_ts, html, text, lang)`` plus the
    generator's own counts under ``"expect"`` and the TeX expressions it
    placed under ``"tex"``."""
    rng = np.random.default_rng(seed)
    words = vocab()
    probs = zipf_probs()
    lens = rng.integers(30, 300, size=n_pages)
    ids = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=probs)
    cuts = np.concatenate([[0], np.cumsum(lens)])
    has_common = rng.random(n_pages) < 0.6
    is_empty = rng.random(n_pages) < EMPTY_SHARE
    has_math = (rng.random(n_pages) < MATH_SHARE) & ~is_empty
    site = rng.integers(0, 200, size=n_pages)
    texts, tex_used, counts = [], [], []
    for p in range(n_pages):
        if p == 2:  # exact-duplicate pair
            texts.append(texts[1])
            counts.append(counts[1])
            continue
        if is_empty[p] and p > 2:
            texts.append("")
            counts.append(0)
            continue
        toks = list(words[ids[cuts[p] : cuts[p + 1]]])
        if p == 0:
            toks += [CAP_TERM] * 2500
        if has_common[p]:
            toks.insert(int(rng.integers(len(toks) + 1)), COMMON_TERM)
        title = f"page {words[ids[cuts[p]]]}"
        n = 2 + len(toks)
        body = " ".join(toks)
        if has_math[p]:
            tex = tex_expr(rng)
            tex_used.append(tex)
            body += f" see [imath]{tex}[/imath] here"
            n += 3
        texts.append(title + "\n\n" + body)
        counts.append(n)
    url = [f"https://site{site[p]:03d}.example.org/p/{p:07d}" for p in range(n_pages)]
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 86400 * 90, size=n_pages)]
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    lang = ["en"] * n_pages
    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": texts,
        "lang": lang,
        "expect": {"docN": n_pages, "len_sum": sum(counts)},
        "tex": sorted(set(tex_used)),
    }



# ------------------------------------------------------------ queries ----
def _query_terms(rng, words, cdf, n_terms: int) -> list[str]:
    out = []
    for _ in range(n_terms):
        if rng.random() < OOV_SHARE:
            # 'q' + letters: no generated word starts with 'q'
            out.append("q" + "".join(_LETTERS[rng.integers(26, size=5)]))
        else:
            i = min(int(np.searchsorted(cdf, rng.random())), len(words) - 1)
            out.append(str(words[i]))
    return out


def make_queries(seed: int, n: int) -> list[tuple[str, str]]:
    """Query log: ``(qtext, mode)`` with 1-3 Zipf terms, 25% AND and ~5%
    out-of-vocabulary terms."""
    rng = np.random.default_rng([seed, 1])
    words, cdf = vocab(), np.cumsum(zipf_probs())
    out = []
    for _ in range(n):
        terms = _query_terms(rng, words, cdf, int(rng.integers(1, 4)))
        out.append((" ".join(terms), "and" if rng.random() < AND_SHARE else "or"))
    return out


def request(terms: str = "", texes=(), page: int = 1) -> dict:
    """Reference request JSON ``{"page": N, "kw": [...]}``."""
    kw = [{"type": "term", "str": terms}] if terms else []
    kw += [{"type": "tex", "str": t} for t in texes]
    return {"page": page, "kw": kw}


def reject_requests(seed: int) -> list[tuple[dict, int]]:
    """Admission rejects and their reference ``ret_code``: page 0, empty
    query, too many term keywords, too many TeX keywords, a page past the
    end of the result window."""
    rng = np.random.default_rng([seed, 2])
    words = vocab()
    many = " ".join(str(w) for w in words[rng.choice(200, size=MAX_TERM_KW + 1, replace=False)])
    return [
        (request(str(words[int(rng.integers(50))]), page=0), RET_BAD_JSON),
        (request(""), RET_EMPTY_QRY),
        (request(many), RET_TOO_MANY_TERM_KW),
        (request("", ["a"] * (MAX_MATH_KW + 1)), RET_TOO_MANY_MATH_KW),
        (request(str(words[int(rng.integers(50))]), page=99), RET_BAD_PAGE),
    ]


def daemon_requests(seed: int, n: int) -> list[dict]:
    """Term-only daemon traffic: 80% page 1, 20% page 2."""
    rng = np.random.default_rng([seed, 3])
    return [
        request(q, page=1 if rng.random() < 0.8 else 2)
        for q, _ in make_queries(seed, n)
    ]


def math_requests(seed: int, n: int, corpus_tex: list[str]) -> list[dict]:
    """Mixed term+TeX traffic: one term plus one TeX keyword that matches a
    corpus expression exactly (50%), is a structural variant of one (30%)
    or matches nothing (20%)."""
    rng = np.random.default_rng([seed, 4])
    words, cdf = vocab(), np.cumsum(zipf_probs())
    out = []
    for _ in range(n):
        tex = corpus_tex[int(rng.integers(len(corpus_tex)))]
        u = rng.random()
        if u >= 0.8:
            tex = NOMATCH_TEX[int(rng.integers(len(NOMATCH_TEX)))]
        elif u >= 0.5:
            tex = tex_variant(tex)
        out.append(request(_query_terms(rng, words, cdf, 1)[0], [tex]))
    return out
