"""Math index build: documents -> math tables (reference math-index/ role).

The reference keeps ONE math index: a filesystem directory per subpath with
packed {exp_id, doc_id, pathinfo} records (math-index/math-posting.h:10-32,
math-index.c:103-151), and MNC scores from that pathinfo
(search/mnc-score.c:264-330). Its set-oriented twin here is the ordered
leaf-root path table ``build_math_lr_index`` -> ``math_lr``, the engine's
only math index: ``SearchEngine`` builds, saves, loads and scores it.

``build_math_index`` -> ``math_postings(subpath, is_gener, doc_id, exp_id,
n_paths, exp_pos)`` is the subpath-set table of the standalone Q19 subpath
operator (``search.math_expr_scores``); no engine build or save writes it.

Extraction mirrors the tokenizer's math-slice semantics (complete
[imath]..[/imath] spans; everything after an unterminated open tag is
swallowed); parse failures skip the expression like the reference's
n_parse_err counter (indexer/index.c:82-94). A page with no span yields no
rows and is never tokenized.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .texparse import tex_subpaths

_OPEN, _CLOSE = "[imath]", "[/imath]"

MATH_POSTING_SCHEMA = StructType(
    [
        StructField("subpath", StringType(), False),
        StructField("is_gener", BooleanType(), False),
        StructField("doc_id", LongType(), False),
        StructField("exp_id", IntegerType(), False),
        StructField("n_paths", IntegerType(), False),
        # token position of the expression's math_exp placeholder in the
        # document's term stream (indexer/index.c:149-151 gives each math
        # expression a position in the same per-doc counter as words);
        # matched expressions feed proximity (search/search.c:215-237)
        StructField("exp_pos", IntegerType(), False),
    ]
)


def extract_math_spans(text: str) -> list[str]:
    """Complete [imath]..[/imath] bodies in order (tokenizer-aligned)."""
    out: list[str] = []
    pos = 0
    while True:
        start = text.find(_OPEN, pos)
        if start < 0:
            break
        close = text.find(_CLOSE, start + len(_OPEN))
        if close < 0:
            break  # unterminated: remainder swallowed, no more spans
        out.append(text[start + len(_OPEN) : close])
        pos = close + len(_CLOSE)
    return out


MATH_LR_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("exp_id", IntegerType(), False),
        StructField("struct", StringType(), False),  # gener-form leaf-root path
        StructField("symbol", StringType(), False),  # concrete leaf symbol
        StructField("path_id", IntegerType(), False),  # 1..64, leaf order
        StructField("n_lr", IntegerType(), False),  # expression's lr-path count
        StructField("exp_pos", IntegerType(), False),  # token position (see above)
        # join keys for candidate generation (the reference seeks only the
        # query's subpath posting DIRECTORIES, math-index/dir-merge.c:74-89;
        # these columns are the directory-key twin): a concrete query path
        # matches doc paths sharing its leaf-anchored FIRST segment, a
        # wildcard (root-anchored suffix) matches doc paths sharing its
        # LAST segment — so MNC candidate generation is an equi-join probe,
        # never a corpus scan (see search.mnc_expr_scores)
        StructField("leaf_seg", StringType(), False),  # first '/'-segment of struct
        StructField("root_seg", StringType(), False),  # last '/'-segment of struct
    ]
)


def _math_exp_positions(text: str) -> list[int]:
    """Token positions of the math_exp placeholders, in span order.

    tokenize_text and extract_math_spans walk complete [imath] spans with
    identical (flex) semantics, so the i-th placeholder position belongs to
    the i-th extracted span."""
    from ..functions.tokenizer import MATH_PLACEHOLDER, tokenize_text

    return [i for i, t in enumerate(tokenize_text(text)) if t == MATH_PLACEHOLDER]


# ---- per-task memos (guide §4.5: heavyweight work once, amortized) -------
# TeX parsing is pure Python and pure-functional; real corpora repeat
# expressions heavily (boilerplate formulas, template pages), so both index
# kernels memoize parse results per DISTINCT tex string. Bounded caches:
# misses on a diverse corpus cost one dict probe. tuples (immutable) guard
# against caller mutation of shared results.
from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=65536)
def _subpaths_cached(tex: str) -> tuple:
    return tuple(tex_subpaths(tex))


@lru_cache(maxsize=65536)
def _lr_paths_cached(tex: str) -> tuple:
    from .texparse import tex_lr_paths

    return tuple(tex_lr_paths(tex))


_POS_MEMO: dict[str, list[int]] = {}


def _math_exp_positions_memo(text: str) -> list[int]:
    """_math_exp_positions with a size-gated memo (only small texts are
    cached, and the dict is dropped once 8192 entries accumulate, so a
    diverse web corpus cannot pin worker memory)."""
    if len(text) > 4096:
        return _math_exp_positions(text)
    hit = _POS_MEMO.get(text)
    if hit is None:
        if len(_POS_MEMO) >= 8192:
            _POS_MEMO.clear()
        hit = _POS_MEMO[text] = _math_exp_positions(text)
    return hit


def _lr_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """build_math_lr_index's kernel. A page's spans are found before it is
    tokenized for their positions, so a page without math costs one
    substring search."""
    for pdf in batches:
        if pdf.empty:
            continue
        rows = {"doc_id": [], "exp_id": [], "struct": [], "symbol": [], "path_id": [], "n_lr": [], "exp_pos": [], "leaf_seg": [], "root_seg": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if not isinstance(text, str):
                continue
            texes = extract_math_spans(text)
            if not texes:
                continue
            mpos = _math_exp_positions_memo(text)
            for exp_id, tex in enumerate(texes):
                paths = _lr_paths_cached(tex)
                for pid, (struct, symbol) in enumerate(paths, start=1):
                    segs = struct.split("/")
                    rows["doc_id"].append(doc_id)
                    rows["exp_id"].append(exp_id)
                    rows["struct"].append(struct)
                    rows["symbol"].append(symbol)
                    rows["path_id"].append(pid)
                    rows["n_lr"].append(len(paths))
                    rows["exp_pos"].append(mpos[exp_id])
                    rows["leaf_seg"].append(segs[0])
                    rows["root_seg"].append(segs[-1])
        yield pd.DataFrame(rows)


def build_math_lr_index(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> ordered leaf-root path table for MNC scoring.

    One row per LEAF per expression (the reference's pathinfo records,
    math-index/math-posting.h:10-32): positions become MNC path_ids.
    Narrow Arrow pass, no shuffle.
    """
    return docs.select("doc_id", "text").mapInPandas(_lr_rows, MATH_LR_SCHEMA)


# Storage bucketing of the saved lr table by its PROBE key (the twin of the
# reference's one-directory-per-subpath layout, math-index/dir-merge.c:74-89
# seeks only the query's directories): math_lr partitions by a hash bucket
# of leaf_seg (the concrete-path equi-join key). Query time pre-filters the
# bucket column with the query's own bucket set -> partition pruning skips
# every unrelated file at the storage layer. CRC32 is used because Spark
# (F.crc32) and Python (zlib.crc32) implement the same polynomial, so the
# driver can compute a query path's bucket without a JVM round-trip.
LR_BUCKETS = 64


def bucket_col(col: str, n_buckets: int) -> F.Column:
    return F.pmod(F.crc32(F.col(col).cast("binary")), F.lit(n_buckets)).cast("int")


def bucket_of(value: str, n_buckets: int) -> int:
    import zlib

    return zlib.crc32(value.encode("utf-8")) % n_buckets


def build_math_index(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> math_postings, the table of the standalone
    subpath operator (search.math_expr_scores). Narrow Arrow pass, no
    shuffle."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {"subpath": [], "is_gener": [], "doc_id": [], "exp_id": [], "n_paths": [], "exp_pos": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                texes = extract_math_spans(text)
                if not texes:
                    continue
                mpos = _math_exp_positions_memo(text)
                for exp_id, tex in enumerate(texes):
                    paths = _subpaths_cached(tex)
                    for p, g in paths:
                        rows["subpath"].append(p)
                        rows["is_gener"].append(g)
                        rows["doc_id"].append(doc_id)
                        rows["exp_id"].append(exp_id)
                        rows["n_paths"].append(len(paths))
                        rows["exp_pos"].append(mpos[exp_id])
            yield pd.DataFrame(rows)

    return docs.select("doc_id", "text").mapInPandas(extract, MATH_POSTING_SCHEMA)
