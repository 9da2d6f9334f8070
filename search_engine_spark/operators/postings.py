"""Inverted-list construction + collection statistics (reference I9/I10/Q10).

tokens (doc_id, pos, term)  ->  posting rows (term, doc_id, tf, positions),
doc_meta (doc_id, doclen), term_stats (term, df, cf), scalar stats
(docN, avgdl).

Reference semantics:
- tf / positions capped at 2048 per posting item
  (term-index/config.h:1, term-index/term-index.cpp:269-274). We apply the
  cap at build time; doclen is the *uncapped* token count (Indri's document
  length, term-index/term-index.cpp:137-165).
- avgDocLen = mean doclen over all docs (term-index/term-index.cpp:64-79).
- df per term = number of docs containing it.

Scale notes (10^12 docs):
- the (doc_id, term) group-by keys on doc_id too, so stopword skew does not
  concentrate on one reducer;
- the per-term df aggregation is a combinable count => map-side partial
  aggregation absorbs the Zipf head; ``term_stats_salted`` demonstrates the
  explicit two-phase salted pattern required by the north rule for
  non-combinable per-term state;
- posting rows stay partitioned by (term, doc_id) ranges downstream (see
  blocks.py), so no single reducer ever owns a full stopword posting list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TF_CAP = 2048  # term-index/config.h:1 MAX_TERM_INDEX_ITEM_POSITIONS


def posting_rows(tokens: DataFrame, tf_cap: int = TF_CAP) -> DataFrame:
    """tokens -> (term, doc_id, tf, positions) with the reference tf cap.

    positions are sorted ascending (token order) and sliced to the cap, as
    the reference iterator returns at most 2048 positions per item.
    """
    return tokens.groupBy("term", "doc_id").agg(
        F.least(F.count(F.lit(1)), F.lit(tf_cap)).cast("int").alias("tf"),
        F.slice(F.sort_array(F.collect_list(F.col("pos"))), 1, tf_cap).alias("positions"),
    )


def doc_meta(tokens: DataFrame, docs_with_ids: DataFrame) -> DataFrame:
    """(doc_id, doclen); docs with zero tokens keep doclen = 0."""
    lens = tokens.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("doclen"))
    return (
        docs_with_ids.select("doc_id")
        .join(lens, "doc_id", "left")
        .select("doc_id", F.coalesce("doclen", F.lit(0)).alias("doclen"))
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """(term, df, cf): document frequency + collection frequency."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def term_stats_salted(tokens: DataFrame, n_salts: int = 32) -> DataFrame:
    """Explicit two-phase salted per-term aggregation (north-rule pattern).

    Phase 1 groups by (term, salt) where salt spreads a hot term's rows over
    ``n_salts`` reducers; phase 2 merges the partials per term. For a
    combinable count Spark's partial aggregation achieves the same thing —
    this is the explicit form used for state that does NOT combine map-side
    (and as the documented skew strategy at 10^12-doc scale).
    """
    salted = tokens.withColumn("_salt", F.pmod(F.col("doc_id"), F.lit(n_salts)))
    partial = salted.groupBy("term", "_salt").agg(
        F.count(F.lit(1)).alias("_cf"),
        F.countDistinct("doc_id").alias("_df"),
    )
    return partial.groupBy("term").agg(
        F.sum("_df").alias("df"),  # doc_id partitions are disjoint across salts
        F.sum("_cf").alias("cf"),
    )


def collection_stats(doc_meta_df: DataFrame) -> dict:
    """Scalar stats: docN, avgdl, and the exact integer len_sum (total
    token count — lets index MERGE recompute the merged avgdl exactly as
    (len_sum_l + len_sum_r) / docN instead of a float-weighted mean)."""
    row = doc_meta_df.agg(
        F.count(F.lit(1)).alias("docN"),
        F.sum("doclen").alias("len_sum"),
    ).collect()[0]
    docN = int(row["docN"])
    len_sum = int(row["len_sum"] or 0)
    return {
        "docN": docN,
        "avgdl": (len_sum / docN) if docN else 0.0,
        "len_sum": len_sum,
    }
