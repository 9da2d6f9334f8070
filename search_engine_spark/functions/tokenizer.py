"""Flex-parity tokenizer as a vectorized pandas UDF.

Reproduces the reference English lexer + slice handler semantics
(reference: txt-seg/lexer.eng.l:12-33, txt-seg/lex.c:51-77,
indexer/index.c:134-180) on the *term stream* level:

- maximal ``[a-zA-Z]+`` runs emit one term each, ASCII-lowercased
  (indexer/index.c:175-179 ``eng_to_lower_case``);
- a complete ``[imath]`` tag switches the lexer into the math start
  condition; the first subsequent ``[/imath]`` closes it and the whole
  span emits the single placeholder term ``math_exp``
  (indexer/index.c:144-151) — letters inside the span are NOT terms;
- an **unterminated** ``[imath]`` swallows the rest of the document
  (flex never leaves the start condition), so nothing after it emits;
- an incomplete opening tag (e.g. ``[imath`` with no ``]``) is not a tag:
  its letter run tokenizes normally (flex longest-match fails on the
  literal, falls through to per-char rules);
- every emitted token (term or math placeholder) occupies exactly one
  position in a per-document running counter shared by text and math
  (indexer/index.c:97-115; position = token ordinal, 0-based here);
- byte offsets of each slice are tracked for snippets/highlighting
  (txt-seg/lex.h:15-19 ``lex_slice.offset``).

Everything is Arrow-batched via pandas UDFs — no per-row Python UDFs are
registered (BASELINE input_hint).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MATH_PLACEHOLDER = "math_exp"
_OPEN = "[imath]"
_CLOSE = "[/imath]"
# One combined scan: a complete opening tag, or a maximal ASCII-letter run.
# Mirrors flex longest-match: at '[' the literal "[imath]" is tried; if it
# fails the '[' is skipped (the catch-all rules) and letters resume.
_TOKEN_RE = re.compile(r"\[imath\]|[A-Za-z]+")
_PLAIN_RE = re.compile(r"[A-Za-z]+")


def tokenize_text(text: str) -> list[str]:
    """Pure-Python reference tokenizer -> ordered term list.

    Position of token i is i. Kept minimal and allocation-light; called
    per-row inside an Arrow batch (pandas UDF), not as a row UDF.

    Fast path: a document with no complete ``[imath]`` tag lexes in one
    C-level ``findall`` sweep instead of the per-match Python loop (the
    alternation degenerates to the letter-run rule then; per-token
    ``str.lower`` keeps exotic-Unicode parity — lowercasing the WHOLE text
    first could mint new ASCII letters, e.g. 'İ' -> 'i̇'). This is the
    web-corpus common case and cuts the build's tokenizer kernel ~2-3x.
    """
    if not text:
        return []
    if _OPEN not in text:
        return [t.lower() for t in _PLAIN_RE.findall(text)]
    out: list[str] = []
    pos = 0
    n = len(text)
    while pos < n:
        m = _TOKEN_RE.search(text, pos)
        if m is None:
            break
        tok = m.group(0)
        if tok == _OPEN:
            close = text.find(_CLOSE, m.end())
            if close < 0:
                # unterminated math: flex stays in the imath start condition
                # until EOF; the remainder of the doc emits nothing.
                break
            out.append(MATH_PLACEHOLDER)
            pos = close + len(_CLOSE)
        else:
            out.append(tok.lower())
            pos = m.end()
    return out


def tokenize_slices(text: str) -> list[tuple[str, int, int, str]]:
    """Reference tokenizer with byte offsets -> (term, pos, offset, type).

    ``offset`` is the byte offset of the slice start within the document
    (lex.c:51-77 computes ``lex_bytes_now - n_bytes``); for math slices the
    offset is the position of ``[imath]`` and the slice covers the full
    tagged span. Used by the snippet/highlight path (search/snippet.c).
    Offsets are *byte* offsets (the reference lexes raw bytes), so we
    operate on the UTF-8 encoding of the text.
    """
    if not text:
        return []
    raw = text.encode("utf-8", errors="surrogatepass")
    out: list[tuple[str, int, int, str]] = []
    pos = 0
    tokpos = 0
    n = len(raw)
    bre = re.compile(rb"\[imath\]|[A-Za-z]+")
    while pos < n:
        m = bre.search(raw, pos)
        if m is None:
            break
        tok = m.group(0)
        if tok == b"[imath]":
            close = raw.find(b"[/imath]", m.end())
            if close < 0:
                break
            out.append((MATH_PLACEHOLDER, tokpos, m.start(), "math"))
            pos = close + len(b"[/imath]")
        else:
            out.append((tok.decode("ascii").lower(), tokpos, m.start(), "eng"))
            pos = m.end()
        tokpos += 1
    return out


@F.pandas_udf(ArrayType(StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched tokenizer: text -> ordered array<string> of terms.

    Token position == array index, so downstream uses ``posexplode`` to
    recover (pos, term) with zero extra bookkeeping.
    """
    return texts.map(lambda t: tokenize_text(t) if isinstance(t, str) else [])


SLICE_SCHEMA = ArrayType(
    StructType(
        [
            StructField("term", StringType()),
            StructField("pos", IntegerType()),
            StructField("offset", IntegerType()),
            StructField("type", StringType()),
        ]
    )
)


@F.pandas_udf(SLICE_SCHEMA)
def tokenize_slices_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched tokenizer retaining byte offsets (snippet path)."""

    def _one(t: object) -> list[dict]:
        if not isinstance(t, str):
            return []
        return [
            {"term": term, "pos": p, "offset": off, "type": ty}
            for term, p, off, ty in tokenize_slices(t)
        ]

    return texts.map(_one)


def tokens_frame(df, text_col: str = "text", id_col: str = "doc_id"):
    """documents -> tokens (doc_id, pos, term) in ONE mapInArrow kernel.

    Narrow transformation: no shuffle. The former pandas-UDF + posexplode
    form boxed every document's token list into a Python list object inside
    a pandas Series, shipped it to the JVM as array<string>, and re-exploded
    it row-by-row in Catalyst; here the flat token stream goes straight into
    an Arrow string column and (doc_id, pos) are two numpy repeats/aranges —
    the per-token cost is the tokenizer regex only (guide §4.2). Output rows
    and schema are identical (doc_id long, pos int, term string; position ==
    token ordinal).
    """
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        schema = pa.schema(
            [("doc_id", pa.int64()), ("pos", pa.int32()), ("term", pa.string())]
        )
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy()
            texts = batch.column(1).to_pylist()
            tok_lists = [tokenize_text(t) if isinstance(t, str) else [] for t in texts]
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(lens.sum())
            if total == 0:
                continue
            flat = pa.array(
                [t for toks in tok_lists for t in toks], type=pa.string()
            )
            doc_rep = np.repeat(ids.astype(np.int64), lens)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            pos = (np.arange(total, dtype=np.int64) - starts[np.repeat(np.arange(len(lens)), lens)]).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_rep, type=pa.int64()),
                    pa.array(pos, type=pa.int32()),
                    flat,
                ],
                schema=schema,
            )

    return df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)
    ).mapInArrow(kernel, "doc_id long, pos int, term string")
