"""Resumable index build with per-partition lineage (reference I16 / north rule).

The reference restarts ingestion from Indri's persisted docN
(indexer/index.c:25-38) and periodically flushes (index_maintain,
indexer/index.c:188-196). At cluster scale we instead split the corpus into
deterministic input partitions (hash of url), commit each partition's
posting-delta independently, and record a lineage manifest row per
partition: ``(partition_id, status, n_docs, wall_ms)``. A restarted build
reads the manifest, skips committed partitions, and produces a final index
byte-identical to an uninterrupted run. With Iceberg, each partition commit
is a table snapshot; on Parquet we write one subdirectory per partition +
a manifest parquet (append-only), which gives the same idempotency.

docIDs are assigned globally BEFORE partitioning (deterministic row_number
over url), so per-partition deltas are disjoint and order-independent —
this is what makes resume byte-identical regardless of which partitions
committed first.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.tokenizer import inverted_frame
from ..operators import postings as P
from ..operators.docids import assign_doc_ids

MANIFEST = "lineage"


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def committed_partitions(spark: SparkSession, path: str) -> set[int]:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return set()
    rows = spark.read.parquet(mp).filter(F.col("status") == "done").collect()
    return {int(r["partition_id"]) for r in rows}


def build_partitioned(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    n_parts: int = 8,
    fail_after: int | None = None,
    id_col: str | None = None,
) -> set[int]:
    """Tokenize + write per-partition posting deltas with lineage.

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
    for pid in range(n_parts):
        if pid in done:
            continue
        t0 = time.time()
        part = docs.filter(F.col("part_id") == pid)
        inv = inverted_frame(part)
        lens = inv.groupBy("doc_id").agg(F.max("doclen").alias("doclen"))
        part_docs = part.select("doc_id", "url", "text")
        delta_dir = os.path.join(path, f"delta_p{pid:04d}")
        inv.write.mode("overwrite").parquet(os.path.join(delta_dir, "postings"))
        part_docs.join(lens, "doc_id", "left").select(
            "doc_id", "url", "text", F.coalesce("doclen", F.lit(0)).alias("doclen")
        ).write.mode("overwrite").parquet(os.path.join(delta_dir, "docs"))
        n_docs = part.count()
        # per-partition build metrics (north rule: lineage + metrics): read
        # them back from the committed delta so they describe what landed
        m = spark.read.parquet(os.path.join(delta_dir, "postings")).agg(
            F.count(F.lit(1)).alias("np"),
            F.sum("tf").alias("nt"),
            F.sum(F.octet_length("pos_vb")).alias("pb"),
        ).collect()[0]
        wall_ms = int((time.time() - t0) * 1000)
        manifest_row = spark.createDataFrame(
            [(
                pid, "done", int(n_docs), wall_ms, int(m["np"]), int(m["nt"] or 0),
                int(m["pb"] or 0),
                round(n_docs / max(wall_ms / 1000.0, 1e-3), 1),
            )],
            "partition_id int, status string, n_docs long, wall_ms long, "
            "n_postings long, n_tokens_capped long, positions_bytes long, docs_per_sec double",
        )
        manifest_row.coalesce(1).write.mode("append").parquet(_manifest_path(path))
        committed_now.add(pid)
        if fail_after is not None and len(committed_now) >= fail_after:
            docs.unpersist()
            raise RuntimeError(f"injected failure after {fail_after} partitions")
    docs.unpersist()
    return committed_now


def finalize_index(spark: SparkSession, path: str, n_parts: int = 8, block: int = 512):
    """Union committed deltas -> stats -> blocks -> final index tables.

    Reads ONLY the manifest's committed partition directories (a wildcard
    glob would silently union stale deltas left at the same path by an
    earlier build with a different n_parts), and packs blocks ONCE in the
    doc-sharded serving layout — the same blocks serve WAND metadata
    sweeps and bulk analytics (cf. build_index), so the second full
    shuffle+pack pass the old code ran bought nothing.
    """
    from ..operators.blocks import pack_blocks, unpack_blocks
    from .build import InvertedIndex

    done = committed_partitions(spark, path)
    if len(done) != n_parts:
        missing = sorted(set(range(n_parts)) - done)
        raise RuntimeError(f"cannot finalize: partitions missing {missing}")
    expected = sorted(set(range(n_parts)))
    post_dirs = [os.path.join(path, f"delta_p{pid:04d}", "postings") for pid in expected]
    doc_dirs = [os.path.join(path, f"delta_p{pid:04d}", "docs") for pid in expected]
    rows = spark.read.parquet(*post_dirs)
    docs = spark.read.parquet(*doc_dirs)
    dmeta = docs.select("doc_id", "doclen")
    stats = P.collection_stats(dmeta)
    tstats = P.term_stats(rows.select("term", "doc_id", "tf"))
    doc_blocks = pack_blocks(rows, block=block)
    return InvertedIndex(
        postings=unpack_blocks(doc_blocks),
        doc_blocks=doc_blocks,
        doc_meta=dmeta,
        term_stats=tstats,
        docstore=docs.select("doc_id", "url", "text"),
        docN=stats["docN"],
        avgdl=stats["avgdl"],
        len_sum=stats.get("len_sum"),
    )
