"""Resumable index build with per-partition lineage (reference I16 / north rule).

The reference restarts ingestion from Indri's persisted docN
(indexer/index.c:25-38) and periodically flushes a segment that
``repo.merge()`` folds into the repository (index_maintain,
indexer/index.c:188-196; term-index/term-index.cpp:94-101). At cluster
scale we instead split the corpus into deterministic input partitions
(hash of url), commit each partition as its own index SEGMENT — a
``plans.build.save_segment`` directory, built by the same fused kernel as
every other build — and record a lineage manifest row per partition:
``(partition_id, status, n_docs, wall_ms, ...)``. A restarted build reads
the manifest, skips committed partitions, and produces a final index
identical to an uninterrupted run. With Iceberg, each partition commit is a
table snapshot; on Parquet we write one subdirectory per partition + a
manifest parquet (append-only), which gives the same idempotency.

docIDs are assigned globally BEFORE partitioning (deterministic row_number
over url), so the segments' doc sets are disjoint and order-independent —
which is what lets ``finalize_index`` fold them with the metadata-only
``merge_indexes`` regardless of which partitions committed first.
"""

from __future__ import annotations

import os
import time
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.blocks import DEFAULT_BLOCK, DOC_META_TERM
from ..operators.docids import assign_doc_ids
from ..sources.tables import literal_row, read_table, read_table_if_exists
from .build import InvertedIndex, load_index, merge_indexes, save_segment

MANIFEST = "lineage"


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def _segment_path(path: str, pid: int) -> str:
    return os.path.join(path, f"delta_p{pid:04d}")


def committed_partitions(spark: SparkSession, path: str) -> set[int]:
    manifest = read_table_if_exists(spark, _manifest_path(path))
    if manifest is None:
        return set()
    rows = manifest.filter(F.col("status") == "done").collect()
    return {int(r["partition_id"]) for r in rows}


def build_partitioned(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    n_parts: int = 8,
    fail_after: int | None = None,
    id_col: str | None = None,
    block: int = DEFAULT_BLOCK,
) -> set[int]:
    """Build + commit one index segment per uncommitted partition, with lineage.

    ``fail_after``: test hook — raise after committing that many partitions
    (simulates a mid-build crash for the resume test).
    Returns the set of partitions committed in this invocation.
    """
    if id_col is None:
        docs = assign_doc_ids(corpus, "url")
    else:
        docs = corpus.withColumn("doc_id", F.col(id_col).cast("long"))
    docs = docs.select("doc_id", "url", "text").withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    docs.cache()
    done = committed_partitions(spark, path)
    committed_now: set[int] = set()
    try:
        for pid in range(n_parts):
            if pid in done:
                continue
            t0 = time.time()
            seg_dir = _segment_path(path, pid)
            seg = save_segment(spark, docs.filter(F.col("part_id") == pid), seg_dir, block)
            # per-partition build metrics (north rule: lineage + metrics): read
            # them back from the committed segment so they describe what landed
            m = (
                read_table(spark, f"{seg_dir}/doc_blocks")
                .filter(F.col("term") != DOC_META_TERM)
                .agg(
                    F.sum("n").alias("np"),
                    F.sum("tf_sum").alias("nt"),
                    F.sum(F.octet_length("positions_blob")).alias("pb"),
                )
                .collect()[0]
            )
            wall_ms = int((time.time() - t0) * 1000)
            literal_row(
                spark,
                "partition_id int, status string, n_docs long, wall_ms long, "
                "n_postings long, n_tokens_capped long, positions_bytes long, docs_per_sec double",
                pid, "done", seg.docN, wall_ms, int(m["np"] or 0), int(m["nt"] or 0),
                int(m["pb"] or 0),
                round(seg.docN / max(wall_ms / 1000.0, 1e-3), 1),
            ).write.mode("append").parquet(_manifest_path(path))
            committed_now.add(pid)
            if fail_after is not None and len(committed_now) >= fail_after:
                raise RuntimeError(f"injected failure after {fail_after} partitions")
    finally:
        docs.unpersist()
    return committed_now


def finalize_index(spark: SparkSession, path: str, n_parts: int = 8) -> InvertedIndex:
    """Fold the committed segments into one index: ``merge_indexes`` over
    ``load_index`` of each segment — metadata-only (block and docstore
    unions plus summed docN/len_sum; each load opens three tables), no
    repack and no posting decode.

    Reads ONLY the manifest's committed segment directories (a wildcard
    glob would silently fold stale segments left at the same path by an
    earlier build with a different n_parts).

    DocID disjointness is checked ONCE on the folded index: its distinct
    doc ids against the summed docN. A pairwise ``merge_indexes`` probe per
    fold step re-scans the growing left side, O(k^2) in the segment count
    (8 segments of a 5000-doc build, local[4], two runs: 2.95-2.97 s for
    the validated fold against 0.39-0.43 s unvalidated plus 0.38-0.43 s for
    the one check)."""
    done = committed_partitions(spark, path)
    if len(done) != n_parts:
        missing = sorted(set(range(n_parts)) - done)
        raise RuntimeError(f"cannot finalize: partitions missing {missing}")
    index = reduce(
        partial(merge_indexes, validate=False),
        (load_index(spark, _segment_path(path, pid)) for pid in range(n_parts)),
    )
    if index.doc_meta.select("doc_id").distinct().count() != index.docN:
        raise ValueError("finalize_index: segment docID sets overlap")
    return index
