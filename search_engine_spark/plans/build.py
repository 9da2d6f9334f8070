"""End-to-end index build (reference indexer/ + indices/ roles).

corpus (url, warc_ts, html, text, lang)
  -> doc_ids     (url, doc_id)                       [I8]
  -> ONE fused Arrow stage: tokenize -> invert -> block pack [I2-I13]
     emitting packed posting blocks + doc-meta sentinel rows
  -> doc_meta / docN / avgdl   derived from sentinel rows    [I10]
  -> term_stats  (term, df, cf) pure column agg over blocks  [I10]
  -> docstore    (doc_id, url, text)                 [I15; Parquet/Iceberg
                  column compression replaces the reference's gzip blobs I14]

Single-scan build (round 5): block-max metadata is avgdl-independent
(block_max_tf/block_min_dl; the WAND bound is evaluated at serve time), so
the corpus is tokenized EXACTLY ONCE — the round-4 doclen pre-pass that
existed only to bake avgdl into the packed blocks is gone, which at 100 TB
removes an entire extra pass over the input. docN/avgdl/doc_meta derive
from the sentinel side-channel rows the fused stage emits per doc chunk,
and term_stats is a whole-stage-codegen aggregate over block metadata.

Dataflow shape on a cluster (cf. SURVEY §3.1): tokenize+pack is narrow
(inherits the docID bucketing); the only data shuffles left in a build are
the docID assignment exchange and nothing else — stats/term_stats are tiny
metadata aggregates. All writes are partitioned table writes. With Iceberg
available the writer targets an Iceberg table (see sources/tables.py); in
this sandbox we write Parquet directories with the same layout.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.blocks import DEFAULT_BLOCK
from ..operators.docids import assign_doc_ids
from ..sources.tables import read_table, write_table


@dataclass
class InvertedIndex:
    """Umbrella handle over the index tables (reference indices/indices.c)."""

    postings: DataFrame  # lazy unpack_blocks(doc_blocks) view: (term, doc_id, tf, doclen, positions)
    doc_blocks: DataFrame  # packed posting blocks, doc-sharded layout: the one block table
    doc_meta: DataFrame  # (doc_id, doclen)
    term_stats: DataFrame  # (term, df, cf)
    docstore: DataFrame  # (doc_id, url, text)
    docN: int
    avgdl: float
    # the posting-cache pool of ``SearchEngine.warm(budget)``, decoded once
    # in the driver: term -> (ids, tfs, dls, pos) (plans/cache.py); the
    # daemon scores its batches over it, the Spark kernels never read it
    hot_postings: dict | None = None
    # exact integer total token count (sum of doclens). Lets merge derive
    # the merged avgdl EXACTLY (len_sum_l + len_sum_r) / (docN_l + docN_r)
    # instead of a float-weighted mean. None on legacy handles.
    len_sum: int | None = None

    def cache(self) -> "InvertedIndex":
        """Warm the serving path (reference postcache role, indices/postcache.c)."""
        self.doc_blocks.cache()
        self.term_stats.cache()
        return self


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    block: int = DEFAULT_BLOCK,
    id_col: str | None = None,
) -> InvertedIndex:
    """Build all index tables from a corpus DataFrame.

    ``id_col``: use an existing stable id column instead of assigning
    row_number-over-url docIDs (any stable total order preserves the
    reference's semantics; the default matches FIXTURES.md).

    The build is ONE scan: tokenize -> invert -> block-pack run as a single
    map-side Arrow stage (invert_pack_blocks) whose output also carries the
    doc-meta sentinel rows; docN/avgdl/doc_meta/term_stats all derive from
    the persisted blocks, so the corpus text is read and tokenized exactly
    once. The docs and the blocks are persisted (the Indri-buffer analogue:
    materialize each boundary once; without it every action re-runs
    tokenization); a caller done with the handle unpersists ``doc_blocks``
    and ``docstore``.
    """
    from ..operators.blocks import (
        collection_stats_from_blocks,
        doc_meta_from_blocks,
        invert_pack_blocks,
        term_stats_from_blocks,
        unpack_blocks,
    )

    if id_col is None:
        docs = assign_doc_ids(corpus, "url")
    else:
        docs = corpus.withColumn("doc_id", F.col(id_col).cast("long"))

    # feeds the fused pack AND is the docstore: the handle holds the
    # persisted frame itself, so unpersisting ``docstore`` frees it
    docs = docs.select("doc_id", "url", "text").persist()
    # docIDs from url-range partitioning leave the corpus doc-range
    # partitioned -> the serving layout needs no exchange at all
    doc_blocks = invert_pack_blocks(
        docs, block=block, assume_doc_partitioned=(id_col is None)
    ).persist()
    # the one action of the build: materializes the fused scan into the
    # persisted blocks and reads docN/avgdl off the sentinel metadata
    stats = collection_stats_from_blocks(doc_blocks)
    return InvertedIndex(
        postings=unpack_blocks(doc_blocks),
        doc_blocks=doc_blocks,
        doc_meta=doc_meta_from_blocks(doc_blocks),
        term_stats=term_stats_from_blocks(doc_blocks),
        docstore=docs,
        docN=stats["docN"],
        avgdl=stats["avgdl"],
        len_sum=stats["len_sum"],
    )


def save_index(index: InvertedIndex, path: str) -> None:
    """Persist index tables (Parquet dirs; Iceberg when a catalog is up).

    ``doc_blocks`` carries an explicit ``_shard`` column (the writing
    partition id): a raw parquet re-read splits big files at row-group
    boundaries, which can land ONE document's blocks in TWO partitions and
    silently break the doc-sharded serving invariant (observed at 400k
    docs: >128MB files + default maxPartitionBytes). load_index restores
    the layout by hash-repartitioning on ``_shard`` — hashing never splits
    a shard value, and merging whole shards preserves doc disjointness.
    """
    write_table(
        index.doc_blocks.withColumn("_shard", F.spark_partition_id()),
        f"{path}/doc_blocks",
    )
    write_table(index.doc_meta, f"{path}/doc_meta")
    write_table(index.term_stats, f"{path}/term_stats")
    write_table(index.docstore, f"{path}/docstore")
    spark = index.doc_blocks.sparkSession
    len_sum = index.len_sum if index.len_sum is not None else -1
    spark.createDataFrame(
        [(index.docN, float(index.avgdl), int(len_sum))],
        "docN long, avgdl double, len_sum long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def save_segment(
    spark: SparkSession, docs: DataFrame, path: str, block: int = DEFAULT_BLOCK
) -> InvertedIndex:
    """One segment of a resumable or streamed build: ``build_index`` over
    ``docs`` (which carry their own ``doc_id``), ``save_index`` at ``path``,
    then free the build's caches (``doc_blocks`` and ``docstore``). Saved
    segments over disjoint ids fold into one index with ``merge_indexes``
    over ``load_index``. Returns the (released) handle for its scalars."""
    seg = build_index(spark, docs, block=block, id_col="doc_id")
    try:
        save_index(seg, path)
    finally:
        seg.doc_blocks.unpersist()
        seg.docstore.unpersist()
    return seg


_SIZE_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _parse_size_bytes(value, default: int | None = None) -> int | None:
    """Spark size-conf string -> bytes. Accepts plain ints and the k/m/g/t
    suffixes Spark does ('128m', '512MB', '1g'); returns ``default`` on
    anything unparseable instead of raising (the caller then takes the
    conservative path)."""
    try:
        s = str(value).strip().lower()
        if len(s) > 1 and s.endswith("b") and s[-2] in _SIZE_UNITS:
            s = s[:-1]
        if s and s[-1] in _SIZE_UNITS:
            return int(float(s[:-1]) * _SIZE_UNITS[s[-1]])
        return int(s)
    except (ValueError, TypeError):
        return default


def _effective_max_split_bytes(spark: SparkSession, file_sizes: list[int]) -> int | None:
    """The split size Spark will ACTUALLY carve these files at — the twin of
    FilePartition.maxSplitBytes:

        min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartNum))

    ``spark.sql.files.maxPartitionBytes`` alone overstates the split size
    whenever the scan is small relative to the core count (bytesPerCore
    shrinks the splits so every core gets work), so gating the shuffle-free
    cold-serving path on maxPartitionBytes alone could let a file that WILL
    be carved skip the _shard repartition — a doc's blocks in two shards,
    silent mis-ranking. Returns None if any conf is unparseable (callers
    must then take the conservative repartition path)."""
    conf = spark.conf
    max_pb = _parse_size_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _parse_size_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    if max_pb is None or open_cost is None:
        return None
    # optional conf with no default: Spark validates any default passed to
    # conf.get, so probe bare and fall back on ANY failure (unset raises)
    try:
        min_parts = int(str(conf.get("spark.sql.files.minPartitionNum")))
    except Exception:
        min_parts = spark.sparkContext.defaultParallelism
    if min_parts <= 0:
        min_parts = spark.sparkContext.defaultParallelism
    total = sum(file_sizes) + open_cost * len(file_sizes)
    bytes_per_core = total // max(min_parts, 1)
    return min(max_pb, max(open_cost, bytes_per_core))


def load_index(spark: SparkSession, path: str) -> InvertedIndex:
    from ..operators.blocks import unpack_blocks

    import os

    from pyspark.errors import AnalysisException

    bdir = f"{path}/doc_blocks"
    try:
        # through Spark, not os.path: the index may live on any filesystem
        doc_blocks = read_table(spark, bdir)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        raise ValueError(
            f"index at {path!r} has no doc_blocks table (an older save "
            "layout); rebuild the index with this version"
        ) from e
    if not {"block_max_tf", "block_min_dl"}.issubset(set(doc_blocks.columns)):
        # pre-round-5 block schema (block_max_tfn, no serve-time extremes):
        # fail HERE with a clear message instead of an opaque missing-column
        # error at serve time
        raise ValueError(
            f"index at {path!r} uses an old block format (missing "
            "block_max_tf/block_min_dl); rebuild the index with this version"
        )
    srow = spark.read.parquet(f"{path}/stats").collect()[0]
    if "_shard" in doc_blocks.columns:
        # The serving invariant is only that every doc's blocks land in ONE
        # partition. A parquet split never crosses a FILE boundary: splits
        # either take whole files (merging whole shards is
        # invariant-preserving) or carve a big file at row-group boundaries
        # (invariant-BREAKING: observed at 400k docs). A file is never
        # carved when it fits one EFFECTIVE split — computed the way
        # FilePartition.maxSplitBytes does (openCost + the bytes-per-core
        # shrink), NOT from maxPartitionBytes alone. Only then serve
        # straight off the scan (zero per-query exchange); otherwise restore
        # the layout by repartitioning on the writing shard id.
        try:
            sizes = [
                os.path.getsize(os.path.join(bdir, f))
                for f in os.listdir(bdir)
                if f.endswith(".parquet")
            ]
        except OSError:
            sizes = []
        eff = _effective_max_split_bytes(spark, sizes) if sizes else None
        if eff is not None and max(sizes) <= eff:
            doc_blocks = doc_blocks.drop("_shard")
        else:
            n = spark.sparkContext.defaultParallelism * 4
            doc_blocks = doc_blocks.repartition(n, "_shard").drop("_shard")
    len_sum = int(srow["len_sum"]) if "len_sum" in srow.__fields__ else -1
    return InvertedIndex(
        postings=unpack_blocks(doc_blocks),
        doc_blocks=doc_blocks,
        doc_meta=read_table(spark, f"{path}/doc_meta"),
        term_stats=read_table(spark, f"{path}/term_stats"),
        docstore=read_table(spark, f"{path}/docstore"),
        docN=int(srow["docN"]),
        avgdl=float(srow["avgdl"]),
        len_sum=None if len_sum < 0 else len_sum,
    )


def merge_indexes(
    left: InvertedIndex,
    right: InvertedIndex,
    validate: bool = True,
) -> InvertedIndex:
    """Merge two indexes built over DISJOINT docID sets — METADATA-ONLY.

    The reference's ``repo.write(); repo.merge()`` maintain step
    (indexer/index.c:188-196, term-index/term-index.cpp:94-101) folds an
    in-memory Indri segment into the on-disk repository. Because the packed
    blocks are avgdl-independent (block_max_tf/block_min_dl evaluated at
    serve time) and doclens are denormalized per posting, a merge needs NO
    repack and NO posting decode:

    - blocks: pure union (partitions concatenate; each side's partitions
      stay doc-disjoint, and the docID sets are disjoint across sides, so
      the doc-sharded serving invariant survives);
    - term_stats: df/cf are additive over disjoint doc sets — union +
      one tiny vocab-sized groupBy;
    - docN adds; avgdl = (len_sum_l + len_sum_r) / docN, EXACT when both
      sides carry the integer len_sum (all build paths do), else a
      float-weighted mean.

    This is the 100-TB shape: merging a 10^12-doc repository with a fresh
    segment costs one vocab aggregate, zero data movement. (The round-4
    version unioned DECODED posting rows and repacked every block because
    block_max_tfn baked the merged avgdl in.)

    ``validate``: assert docID disjointness with a semi-join probe (one
    tiny job; disable on trusted inputs at scale).
    """
    if validate:
        overlap = (
            left.doc_meta.select("doc_id")
            .join(right.doc_meta.select("doc_id"), "doc_id", "left_semi")
            .limit(1)
            .count()
        )
        if overlap:
            raise ValueError("merge_indexes: docID sets overlap")
    from ..operators.blocks import unpack_blocks

    doc_blocks = left.doc_blocks.unionByName(right.doc_blocks)
    dmeta = left.doc_meta.unionByName(right.doc_meta.select(*left.doc_meta.columns))
    tstats = (
        left.term_stats.select("term", "df", "cf")
        .unionByName(right.term_stats.select("term", "df", "cf"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    docN = left.docN + right.docN
    if left.len_sum is not None and right.len_sum is not None:
        len_sum = left.len_sum + right.len_sum
        avgdl = (len_sum / docN) if docN else 0.0
    else:
        len_sum = None
        avgdl = (
            (left.docN * left.avgdl + right.docN * right.avgdl) / docN
            if docN
            else 0.0
        )

    return InvertedIndex(
        postings=unpack_blocks(doc_blocks),
        doc_blocks=doc_blocks,
        doc_meta=dmeta,
        term_stats=tstats,
        docstore=left.docstore.unionByName(right.docstore),
        docN=docN,
        avgdl=avgdl,
        len_sum=len_sum,
    )
