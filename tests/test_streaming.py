"""Structured Streaming: incremental ingest writes index segments that load,
fold and serve exactly like a batch build; watermarked window agg matches
the batch equivalent."""

from __future__ import annotations

import glob
from functools import reduce

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import vocab_word
from search_engine_spark.oracle import naive_search
from search_engine_spark.plans.build import build_index, load_index, merge_indexes
from search_engine_spark.plans.query import search
from search_engine_spark.streaming.ingest import stream_index_build, windowed_event_counts


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _postings(idx):
    rows = idx.postings.select("doc_id", "term", "tf", "doclen").collect()
    return sorted((r["doc_id"], r["term"], r["tf"], r["doclen"]) for r in rows)


def test_stream_build_matches_batch(spark, corpus200, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # two arrivals -> two micro-batches -> two segments to fold
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    corpus200.where(half == 0).write.parquet(inp)
    before = _persistent_rdds(spark)
    stream_index_build(spark, inp, out, ckpt)
    assert _persistent_rdds(spark) == before  # each batch frees its build caches
    corpus200.where(half == 1).write.mode("append").parquet(inp)
    stream_index_build(spark, inp, out, ckpt)

    def fold():
        seg_dirs = sorted(glob.glob(f"{out}/segments/batch=*"))
        return seg_dirs, reduce(merge_indexes, (load_index(spark, d) for d in seg_dirs))

    seg_dirs, got = fold()
    assert len(seg_dirs) == 2

    ided = corpus200.withColumn("doc_id", F.xxhash64("url"))
    batch = build_index(spark, ided, id_col="doc_id")
    a = _postings(got)
    assert a == _postings(batch)
    assert (got.docN, got.len_sum) == (batch.docN, batch.len_sum)
    batch.doc_blocks.unpersist()
    batch.docstore.unpersist()

    # the folded segments serve rank-identically to the reference scorer
    # over the same docs and xxhash64 ids
    pydocs = [(r["doc_id"], r["text"]) for r in ided.select("doc_id", "text").collect()]
    q = f"{vocab_word(1)} {vocab_word(2)} {vocab_word(3)}"
    hits = search(spark, got, q).collect()
    exp = naive_search(pydocs, q)
    assert hits and [r["doc_id"] for r in hits] == [d for d, _ in exp]
    for r, (_, sc) in zip(hits, exp):
        assert r["score"] == pytest.approx(sc, rel=1e-12), r["doc_id"]

    # restart with the same checkpoint: no reprocessing, no duplicate rows
    stream_index_build(spark, inp, out, ckpt)
    seg_dirs_again, again = fold()
    assert seg_dirs_again == seg_dirs
    assert again.postings.count() == len(a)


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "ev")
    ev.write.parquet(inp)
    stream = spark.readStream.schema(ev.schema).parquet(inp)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("select * from winagg").collect()
    }
    exp_df = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    exp = {(r["w"]["start"], r["event_type"]): (r["n"], round(r["s"], 6)) for r in exp_df}
    # availableNow emits only windows the watermark closed; every emitted
    # window must match batch, and most windows must have been emitted
    assert got
    for k, v in got.items():
        assert exp[k] == v
    assert len(got) >= len(exp) - 3  # trailing windows may stay open


def test_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions == batch
    gap-split sessions (minus each user's final, still-open session)."""
    import pandas as pd

    from search_engine_spark.streaming.ingest import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "sess")
    ev.write.parquet(inp)
    stream = spark.readStream.schema(ev.schema).parquet(inp)
    q = (
        sessionize(stream, gap="6 hours", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("select * from sess").collect()
    }

    pdf = ev.select("user_id", "ts", "value").toPandas()
    gap = pd.Timedelta("6 hours")
    final_watermark = pdf["ts"].max() - pd.Timedelta("1 hour")
    exp = {}
    for uid, grp in pdf.groupby("user_id"):
        grp = grp.sort_values("ts")
        sessions = []
        cur = None
        for ts, v in zip(grp["ts"], grp["value"]):
            if cur is None or ts - cur["end"] > gap:
                if cur is not None:
                    sessions.append(cur)
                cur = {"start": ts, "end": ts, "n": 0, "s": 0.0}
            cur["end"] = max(cur["end"], ts)
            cur["n"] += 1
            cur["s"] += float(v)
        # the final session is emitted too IF the event-time timeout fired
        # (final watermark passed its end + gap); otherwise it stays open
        if cur is not None and final_watermark > cur["end"] + gap:
            sessions.append(cur)
        for c in sessions:
            exp[(uid, c["start"], c["end"])] = (c["n"], round(c["s"], 6))
    assert got, "no sessions emitted"
    assert got == exp
