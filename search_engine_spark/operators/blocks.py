"""Posting blocks: delta+varbyte packed, with block-max metadata.

Plays the role of the reference's mem-index posting blocks + skip list
(mem-index/mem-posting.c:100-185 flushes ~12KB blocks keyed by first docID;
mem-index/skippy.h:62-148 jump(target) descends to the furthest node with
key <= target). In Spark the "skip" is the min/max block predicate: an AND
merge filters blocks on ``last_doc_id >= target`` / ``first_doc_id <=
bound`` and never decodes pruned blocks. The ``block_max_tf`` /
``block_min_dl`` pair is the block-max metadata that enables WAND pruning
(north rule; cf. Ding & Suel, "Faster Top-k Document Retrieval Using
Block-Max Indexes", SIGIR'11): the BM25 tf-normalization is monotone
increasing in tf and decreasing in doclen, so tfn(max_tf, min_dl, avgdl)
evaluated AT SERVE TIME is a valid per-block upper bound. Storing the
(tf, dl) extremes instead of a baked tfn value makes the packed blocks
independent of the collection avgdl — which is what lets the whole index
build run as ONE corpus scan (no doclen pre-pass) and lets two indexes
merge by pure union (no repack).

Layout per block row:
  term STRING, first_doc_id LONG, last_doc_id LONG, n INT,
  doc_ids_blob BINARY (delta+varbyte), tfs_blob BINARY (varbyte),
  doclens_blob BINARY (varbyte; denormalized so scoring never joins
  doc_meta at query time), positions_blob BINARY (varbyte, concatenated;
  per-entry lengths == tf), block_max_tf INT, block_min_dl INT,
  tf_sum LONG (sum of the block's capped tfs — makes term_stats a pure
  column aggregate over block metadata, no blob decode, no Python stage).

Doc-meta side-channel: the fused build additionally emits ONE sentinel row
per doc chunk (term == DOC_META_TERM, a string no tokenizer output can
collide with) whose doc_ids_blob/doclens_blob carry the chunk's (doc_id,
doclen) pairs and whose tf_sum is the chunk's UNCAPPED token total. docN /
avgdl / doc_meta all derive from these rows, so the corpus is tokenized
exactly once. Every consumer that decodes posting blocks filters the
sentinel out (and the serving path filters blocks by query term, which a
sentinel can never match).

Scale notes: ``invert_pack_blocks`` packs within doc-range partitions, one
bounded doc chunk at a time — a hot term's posting list is *split across
partitions and chunks* (each yielding its own block run), so no task ever
owns a stopword's full 10^11-entry list. A term spanning chunks just
produces one extra partial block, which the query path merges
transparently.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import codec

DEFAULT_BLOCK = 512  # posting entries per block (reference: ~12KB blocks, mem-index/config.h:12-16)

# Sentinel term of the doc-meta side-channel rows: "\x00" sorts before any
# real token and the tokenizer can never emit a NUL byte, so no collision.
DOC_META_TERM = "\x00doclen"

# Docs inverted per chunk of the fused build: bounds the token-level working
# set and the packed-block latency of one chunk, whatever the partition size.
INVERT_CHUNK_DOCS = 10000

# tf and its position list are capped at build time (term-index/config.h:1;
# term-index/term-index.cpp:269-274); doclen stays the uncapped count.
TF_CAP = 2048

BLOCK_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("first_doc_id", LongType(), False),
        StructField("last_doc_id", LongType(), False),
        StructField("n", IntegerType(), False),
        StructField("doc_ids_blob", BinaryType(), False),
        StructField("tfs_blob", BinaryType(), False),
        StructField("doclens_blob", BinaryType(), False),
        StructField("positions_blob", BinaryType(), False),
        StructField("block_max_tf", IntegerType(), False),
        StructField("block_min_dl", IntegerType(), False),
        StructField("tf_sum", LongType(), False),
    ]
)

UNPACKED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", IntegerType(), False),
        StructField("doclen", IntegerType(), False),
        StructField("positions", ArrayType(IntegerType()), False),
    ]
)


def _emit_blocks_arrow(
    term_idx: np.ndarray,
    vocab,
    e_doc: np.ndarray,
    e_tf: np.ndarray,
    e_dl: np.ndarray,
    pos_bytes,
    entry_boff: np.ndarray,
    block: int,
    max_batch_bytes: int = 512 << 20,
):
    """Entries (sorted by term-run, doc ascending) -> packed block
    RecordBatches with ZERO per-block Python.

    The earlier per-block loop (``_pack_group`` + ``RecordBatch.from_pylist``)
    spent ~300us of Python/numpy-call overhead per block row — at 400k docs
    that was ~60% of the fused build kernel. Here every stream (docID deltas,
    tfs, doclens) is varbyte-encoded ONCE over the whole partition and each
    block's blob is a pure byte-range of that stream, assembled into Arrow
    binary columns directly from offset buffers:

    - block boundaries: run starts (term changes) union every ``block``-th
      entry within a run — so blocks tile the entry sequence contiguously
      and the per-stream offsets at boundary entries ARE the Arrow binary
      offset vector (no copies, no per-block slicing);
    - docID delta reset at block starts happens vectorized (the diff array
      is overwritten at boundary positions with the absolute id before the
      single vb_encode call);
    - block_max_tf / block_min_dl / tf_sum are single ``np.*.reduceat``
      calls over the entry arrays (avgdl-independent block-max metadata —
      the WAND upper bound is evaluated at serve time).

    ``vocab``: list/Array of term strings indexed by ``term_idx``.
    ``entry_boff``: per-entry byte offsets (len n+1) into ``pos_bytes`` —
    entry position blobs must tile that buffer in entry order.
    Emission is sliced so every Arrow binary column stays < 2^31 bytes
    (int32 offsets) and well under ``max_batch_bytes``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(e_doc)
    if n == 0:
        return
    run_start = np.r_[True, term_idx[1:] != term_idx[:-1]]
    run_id = np.cumsum(run_start) - 1
    run_starts = np.flatnonzero(run_start)
    within = np.arange(n, dtype=np.int64) - run_starts[run_id]
    bstart = np.flatnonzero(run_start | (within % block == 0))
    bounds = np.r_[bstart, n]  # blocks tile the entries: end[j] == start[j+1]
    bend = bounds[1:]
    first_doc = e_doc[bstart]
    last_doc = e_doc[bend - 1]
    bn = (bend - bstart).astype(np.int32)
    bmax_tf = np.maximum.reduceat(e_tf, bstart).astype(np.int32)
    bmin_dl = np.minimum.reduceat(e_dl, bstart).astype(np.int32)
    btf_sum = np.add.reduceat(e_tf.astype(np.int64), bstart)

    d = np.empty(n, dtype=np.uint64)
    d[0] = e_doc[0]
    np.subtract(e_doc[1:], e_doc[:-1], out=d[1:], casting="unsafe")
    d[bstart] = e_doc[bstart]  # absolute id at every block start
    ids_stream = codec.vb_encode(d)
    ids_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(codec.vb_lengths(d), out=ids_off[1:])
    tf_u = e_tf.astype(np.uint64)
    tfs_stream = codec.vb_encode(tf_u)
    tfs_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(codec.vb_lengths(tf_u), out=tfs_off[1:])
    dl_u = e_dl.astype(np.uint64)
    dls_stream = codec.vb_encode(dl_u)
    dls_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(codec.vb_lengths(dl_u), out=dls_off[1:])
    pos_np = np.asarray(pos_bytes, dtype=np.uint8)
    entry_boff = np.asarray(entry_boff, dtype=np.int64)

    vocab_pa = vocab if isinstance(vocab, pa.Array) else pa.array(vocab, type=pa.string())
    nblocks = len(bstart)
    # slice the emit so the fattest stream stays < max_batch_bytes per batch
    sl_at = [0]
    pos_at_bound = entry_boff[bounds]
    while sl_at[-1] < nblocks:
        lo = sl_at[-1]
        cap = pos_at_bound[lo] + max_batch_bytes
        hi = int(np.searchsorted(pos_at_bound, cap, side="right") - 1)
        sl_at.append(max(hi, lo + 1) if hi < nblocks else nblocks)

    def _bin_col(stream: bytes, off: np.ndarray, lo_b: int, hi_b: int) -> "pa.Array":
        o = off[bounds[lo_b : hi_b + 1]]
        data = stream[o[0] : o[-1]]
        off32 = (o - o[0]).astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), hi_b - lo_b, [None, pa.py_buffer(off32.tobytes()), pa.py_buffer(data)]
        )

    pos_stream = pos_np.tobytes()
    for lo_b, hi_b in zip(sl_at, sl_at[1:]):
        yield pa.RecordBatch.from_arrays(
            [
                pc.take(vocab_pa, pa.array(term_idx[bstart[lo_b:hi_b]], type=pa.int64())),
                pa.array(first_doc[lo_b:hi_b], type=pa.int64()),
                pa.array(last_doc[lo_b:hi_b], type=pa.int64()),
                pa.array(bn[lo_b:hi_b], type=pa.int32()),
                _bin_col(ids_stream, ids_off, lo_b, hi_b),
                _bin_col(tfs_stream, tfs_off, lo_b, hi_b),
                _bin_col(dls_stream, dls_off, lo_b, hi_b),
                _bin_col(pos_stream, entry_boff, lo_b, hi_b),
                pa.array(bmax_tf[lo_b:hi_b], type=pa.int32()),
                pa.array(bmin_dl[lo_b:hi_b], type=pa.int32()),
                pa.array(btf_sum[lo_b:hi_b], type=pa.int64()),
            ],
            schema=_PA_BLOCK_SCHEMA(),
        )


def _PA_BLOCK_SCHEMA():
    import pyarrow as pa

    return pa.schema(
        [
            ("term", pa.string()),
            ("first_doc_id", pa.int64()),
            ("last_doc_id", pa.int64()),
            ("n", pa.int32()),
            ("doc_ids_blob", pa.binary()),
            ("tfs_blob", pa.binary()),
            ("doclens_blob", pa.binary()),
            ("positions_blob", pa.binary()),
            ("block_max_tf", pa.int32()),
            ("block_min_dl", pa.int32()),
            ("tf_sum", pa.int64()),
        ]
    )


def _doc_meta_sentinel(doc_ids: np.ndarray, lens: np.ndarray):
    """One sentinel block row carrying a doc chunk's (doc_id, doclen) pairs.

    ``doc_ids`` ascending; ``lens`` the UNCAPPED per-doc token counts.
    doc_ids_blob uses the same delta+varbyte layout as posting blocks
    (decode with codec.decode_ids); tf_sum is the chunk's token total, so
    collection stats (docN = sum n, avgdl = sum tf_sum / sum n) are a pure
    column aggregate over these rows."""
    import pyarrow as pa

    d = np.empty(len(doc_ids), dtype=np.uint64)
    d[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=d[1:], casting="unsafe")
    return pa.RecordBatch.from_arrays(
        [
            pa.array([DOC_META_TERM], type=pa.string()),
            pa.array([int(doc_ids[0])], type=pa.int64()),
            pa.array([int(doc_ids[-1])], type=pa.int64()),
            pa.array([len(doc_ids)], type=pa.int32()),
            pa.array([codec.vb_encode(d)], type=pa.binary()),
            pa.array([b""], type=pa.binary()),
            pa.array([codec.vb_encode(lens.astype(np.uint64))], type=pa.binary()),
            pa.array([b""], type=pa.binary()),
            pa.array([0], type=pa.int32()),
            pa.array([0], type=pa.int32()),
            pa.array([int(lens.sum())], type=pa.int64()),
        ],
        schema=_PA_BLOCK_SCHEMA(),
    )


def _binary_col_bytes(col) -> np.ndarray:
    """Contiguous uint8 view of a pyarrow BinaryArray's payload, in row
    order (a sliced array view may not start at buffer byte 0 — rebase)."""
    bufs = col.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[col.offset : col.offset + len(col) + 1]
    return np.frombuffer(bufs[2], dtype=np.uint8)[off[0] : off[-1]]


def unpack_blocks(blocks: DataFrame, with_positions: bool = True) -> DataFrame:
    """Packed block rows -> (term, doc_id, tf, doclen, positions).

    Doc-meta sentinel rows (fused-build side-channel) are filtered out —
    they carry no postings.

    Fully vectorized mapInArrow decode (guide §4.2): because varbyte is
    self-delimiting, the batch's blobs concatenate into ONE stream per
    column (straight from the Arrow binary buffers, no per-row slicing) and
    each stream decodes in a single ``codec.vb_decode`` call; docIDs then
    resolve with a segmented cumsum (delta reset at block starts), and the
    positions column is assembled as an Arrow ListArray directly from the
    flat value buffer + tf offsets. The former per-block ``itertuples``
    loop paid ~6 Python/numpy calls per block row — the whole decode is
    now ~a dozen array ops per Arrow batch regardless of block count.
    """
    import pyarrow as pa

    blocks = blocks.filter(F.col("term") != DOC_META_TERM)

    def unpack(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow.compute as pc

        schema = pa.schema(
            [
                ("term", pa.string()),
                ("doc_id", pa.int64()),
                ("tf", pa.int32()),
                ("doclen", pa.int32()),
                ("positions", pa.list_(pa.int32())),
            ]
        )
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            n = cols["n"].to_numpy().astype(np.int64)
            total = int(n.sum())
            if total == 0:
                continue
            # term: dictionary-encode once, repeat indices per block entry
            tdict = pc.dictionary_encode(cols["term"])
            tidx = np.repeat(tdict.indices.to_numpy().astype(np.int64), n)
            # docIDs: one decode of the concatenated delta streams, then a
            # segmented cumsum (block starts carry the absolute id)
            d = codec.vb_decode(_binary_col_bytes(cols["doc_ids_blob"])).astype(np.int64)
            starts = np.zeros(len(n), dtype=np.int64)
            np.cumsum(n[:-1], out=starts[1:])
            seg = np.repeat(np.arange(len(n), dtype=np.int64), n)
            csum = np.cumsum(d)
            base = csum[starts] - d[starts]
            doc_id = csum - base[seg]
            tf = codec.vb_decode(_binary_col_bytes(cols["tfs_blob"])).astype(np.int32)
            dl = codec.vb_decode(_binary_col_bytes(cols["doclens_blob"])).astype(np.int32)
            if with_positions:
                pos_vals = codec.vb_decode(
                    _binary_col_bytes(cols["positions_blob"])
                ).astype(np.int32)
            else:
                pos_vals = np.empty(0, dtype=np.int32)
            # int64 offsets, emitted in slices so each batch's position
            # VALUES stay < 2^30 (an Arrow list<int32> offset vector is
            # int32; one huge input batch of max-tf blocks could overflow a
            # batch-wide cumsum)
            pos_off64 = np.zeros(total + 1, dtype=np.int64)
            if with_positions:
                np.cumsum(tf, out=pos_off64[1:])
            lo = 0
            while lo < total:
                hi = (
                    int(np.searchsorted(pos_off64, pos_off64[lo] + (1 << 30), "right")) - 1
                )
                hi = max(hi, lo + 1) if hi < total else total
                off32 = (pos_off64[lo : hi + 1] - pos_off64[lo]).astype(np.int32)
                positions = pa.ListArray.from_arrays(
                    pa.array(off32, type=pa.int32()),
                    pa.array(
                        pos_vals[pos_off64[lo] : pos_off64[hi]], type=pa.int32()
                    ),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pc.take(tdict.dictionary, pa.array(tidx[lo:hi], type=pa.int64())),
                        pa.array(doc_id[lo:hi], type=pa.int64()),
                        pa.array(tf[lo:hi], type=pa.int32()),
                        pa.array(dl[lo:hi], type=pa.int32()),
                        positions,
                    ],
                    schema=schema,
                )
                lo = hi

    return blocks.mapInArrow(unpack, UNPACKED_SCHEMA)


def block_meta(blocks: DataFrame) -> DataFrame:
    """Metadata-only projection used for WAND pruning / block skipping."""
    return blocks.filter(F.col("term") != DOC_META_TERM).select(
        "term", "first_doc_id", "last_doc_id", "n", "block_max_tf", "block_min_dl"
    )


def invert_pack_blocks(
    docs: DataFrame,
    block: int = DEFAULT_BLOCK,
    assume_doc_partitioned: bool = False,
) -> DataFrame:
    """FUSED tokenize -> document inversion -> block pack: (doc_id, text)
    rows in, packed doc-layout posting blocks out, ONE map-side Arrow stage.
    This is the only code that inverts documents: every build (one-shot,
    per-partition resumable, per-micro-batch streamed) runs it through
    ``plans.build.build_index``.

    Why fused: shipping ~50 posting rows per doc through the Python->JVM
    Arrow boundary and caching them for a separate pack pass cost ~45s of a
    75s local[32] build at 400k docs while the tokenizer kernel itself is
    ~3s. This stage ships only the packed blocks (~40x fewer rows, varbyte
    blobs), which is also the 10^12-doc shape: nothing per-posting ever
    leaves the executor.

    It is also the ONLY corpus scan of the build: block-max metadata is
    avgdl-independent (block_max_tf/block_min_dl, bound evaluated at serve
    time) and each doc chunk additionally emits a DOC_META_TERM sentinel
    row carrying its (doc_id, doclen) pairs, from which docN/avgdl/doc_meta
    all derive downstream — no doclen pre-pass. tf and positions are
    capped at ``TF_CAP``; doclen is the uncapped token count.
    """
    from ..functions.tokenizer import tokenize_text

    sc = docs.sparkSession.sparkContext
    base = docs.select("doc_id", "text")
    if assume_doc_partitioned:
        # docIDs were assigned by url-range partitioning: partitions are
        # already doc ranges; just order within them
        arranged = base.sortWithinPartitions("doc_id")
    else:
        # Scale-adaptive partition count (guide §2): derive from the INPUT's
        # split count instead of a flat 4/core. A big scan arrives with many
        # splits and keeps the 4-tasks/core granularity that smooths the
        # straggler tail; a small table (one parquet file spread to
        # defaultParallelism) gets exactly one shard per core — the flat
        # 4/core constant gave a 5k-doc index 128 micro-partitions whose
        # per-task overhead then taxed every downstream consumer (unpack:
        # 0.96s at 128 parts vs 0.34s at 32, same data; serving coalesces
        # per query, but unpack/scan paths read the layout as built).
        para = sc.defaultParallelism
        nparts = max(para, min(4 * para, base.rdd.getNumPartitions()))
        arranged = base.repartitionByRange(nparts, "doc_id").sortWithinPartitions(
            "doc_id"
        )

    def _invert_emit_chunk(doc_ids: np.ndarray, tok_lists: list):
        """Tokenized docs -> packed block RecordBatches for one doc chunk.

        A chunk is a contiguous doc-id range, so emitting per chunk keeps
        every term's blocks doc-ascending and non-overlapping across the
        partition; a term spanning chunks just yields one extra partial
        block, which no consumer observes. One stable argsort on the term index
        is the whole inversion: the token stream already arrives in
        (doc asc, pos asc) order, so stability gives (term, doc, pos)."""
        import pyarrow as pa

        lens = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        total = int(lens.sum())
        # doc-meta side-channel first: one sentinel row per chunk carrying
        # the chunk's (doc_id, doclen) pairs — emitted even for a chunk of
        # all-empty docs (doclen 0 docs must appear in doc_meta)
        yield _doc_meta_sentinel(doc_ids.astype(np.int64), lens)
        if total == 0:
            return
        flat = pa.array([t for toks in tok_lists for t in toks], type=pa.string())
        d = flat.dictionary_encode()
        tidx = d.indices.to_numpy().astype(np.int64)
        vocab = d.dictionary
        doc_rep = np.repeat(np.arange(len(doc_ids), dtype=np.int64), lens)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        pos = np.arange(total, dtype=np.int64) - starts[doc_rep]
        order = np.argsort(tidx, kind="stable")
        gt, gd, gp = tidx[order], doc_rep[order], pos[order]
        newgrp = np.r_[True, (gt[1:] != gt[:-1]) | (gd[1:] != gd[:-1])]
        gstart = np.flatnonzero(newgrp)
        gend = np.r_[gstart[1:], total]
        raw_tf = gend - gstart
        tf = np.minimum(raw_tf, TF_CAP).astype(np.int64)
        # keep only the first tf positions of each entry (the TF_CAP slice)
        grp_id = np.cumsum(newgrp) - 1
        within = np.arange(total, dtype=np.int64) - gstart[grp_id]
        keep = within < tf[grp_id]
        pos_vals = gp[keep].astype(np.uint64)
        pos_bytes = np.frombuffer(codec.vb_encode(pos_vals), dtype=np.uint8)
        blens = codec.vb_lengths(pos_vals)
        byte_cum = np.zeros(len(pos_vals) + 1, dtype=np.int64)
        np.cumsum(blens, out=byte_cum[1:])
        val_off = np.zeros(len(tf) + 1, dtype=np.int64)
        np.cumsum(tf, out=val_off[1:])
        yield from _emit_blocks_arrow(
            gt[gstart],
            vocab,
            doc_ids[gd[gstart]].astype(np.int64),
            tf,
            lens[gd[gstart]],
            pos_bytes,
            byte_cum[val_off],
            block,
        )

    def fused(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # invert + pack in bounded doc chunks: the token-level working set
        # (flat token array, argsort, grouping gathers) stays allocation-
        # friendly and cache-sized regardless of partition size, and the
        # packed blocks stream out incrementally — peak memory is one
        # chunk's tokens, never the partition's.
        pending_ids: list[np.ndarray] = []
        pending_toks: list = []
        pending_n = 0

        def _flush():
            nonlocal pending_ids, pending_toks, pending_n
            if not pending_n:
                return iter(())
            out = _invert_emit_chunk(np.concatenate(pending_ids), pending_toks)
            pending_ids, pending_toks, pending_n = [], [], 0
            return out

        for batch in batches:
            nrows = batch.num_rows
            at = 0
            while at < nrows:
                take = min(INVERT_CHUNK_DOCS - pending_n, nrows - at)
                sl = batch.slice(at, take)
                pending_ids.append(sl.column(0).to_numpy())
                pending_toks.extend(
                    tokenize_text(t) if isinstance(t, str) else []
                    for t in sl.column(1).to_pylist()
                )
                pending_n += take
                at += take
                if pending_n >= INVERT_CHUNK_DOCS:
                    yield from _flush()
        yield from _flush()

    return arranged.mapInArrow(fused, BLOCK_SCHEMA)


def term_stats_from_blocks(blocks: DataFrame) -> DataFrame:
    """(term, df, cf) as a PURE COLUMN AGGREGATE over block metadata:
    df sums the per-block entry counts, cf sums the per-block ``tf_sum``
    column baked in at pack time. No blob decode, no Python stage — the
    input is ~n_blocks metadata rows, whole-stage codegen end to end (the
    round-4 version decoded every tfs_blob through a mapInArrow kernel,
    a flat ~1.1s at every parallelism level)."""
    return (
        blocks.filter(F.col("term") != DOC_META_TERM)
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("tf_sum").alias("cf"))
    )


def doc_meta_from_blocks(blocks: DataFrame) -> DataFrame:
    """(doc_id, doclen) decoded from the DOC_META_TERM sentinel rows the
    fused build emits (one per doc chunk). Tiny input: ~one row per 10k
    docs; the decode is one Arrow-batched kernel over those rows only."""
    import pyarrow as pa

    sent = blocks.filter(F.col("term") == DOC_META_TERM).select(
        "doc_ids_blob", "doclens_blob"
    )

    def decode(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        schema = pa.schema([("doc_id", pa.int64()), ("doclen", pa.int32())])
        for batch in batches:
            for i in range(batch.num_rows):
                ids = codec.decode_ids(batch.column(0)[i].as_py()).astype(np.int64)
                dls = codec.vb_decode(batch.column(1)[i].as_py()).astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids, type=pa.int64()), pa.array(dls, type=pa.int32())],
                    schema=schema,
                )

    return sent.mapInArrow(decode, "doc_id long, doclen int")


def collection_stats_from_blocks(blocks: DataFrame) -> dict:
    """{docN, avgdl, len_sum} from sentinel-row METADATA alone (no blob
    decode): docN = sum(n), len_sum = sum(tf_sum) — the sentinel's tf_sum
    is its chunk's uncapped token total. One tiny column aggregate; this
    is the action that materializes the fused build's single corpus scan."""
    row = (
        blocks.filter(F.col("term") == DOC_META_TERM)
        .agg(F.sum("n").alias("docN"), F.sum("tf_sum").alias("len_sum"))
        .collect()[0]
    )
    docN = int(row["docN"] or 0)
    len_sum = int(row["len_sum"] or 0)
    return {
        "docN": docN,
        "avgdl": (len_sum / docN) if docN else 0.0,
        "len_sum": len_sum,
    }
