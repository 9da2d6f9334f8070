"""Collection statistics over posting rows (reference I10/Q10).

posting rows (term, doc_id, tf) -> term_stats (term, df, cf); doc_meta
(doc_id, doclen) -> scalar stats (docN, avgdl, len_sum).

Reference semantics:
- doclen is the *uncapped* token count (Indri's document length,
  term-index/term-index.cpp:137-165); tf is capped at 2048 at build time
  (term-index/config.h:1).
- avgDocLen = mean doclen over all docs (term-index/term-index.cpp:64-79).
- df per term = number of docs containing it.

Scale notes (10^12 docs):
- the per-term df aggregation is a combinable count => map-side partial
  aggregation absorbs the Zipf head; ``term_stats_salted`` demonstrates the
  explicit two-phase salted pattern required by the north rule for
  non-combinable per-term state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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
