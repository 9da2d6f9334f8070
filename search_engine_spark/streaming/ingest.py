"""Structured Streaming ingest: incremental index build + event windows.

The reference indexes in restartable batch (indexer/index.c resume from
docN) and serves online; it has no streaming operator. At web scale the
natural Spark extension is a streaming ingest of newly crawled pages into
index SEGMENTS — each micro-batch is one ``plans.build.save_segment`` (the
same fused ``build_index`` + ``save_index`` as a batch build), driven by a
file/Kafka source with exactly-once foreachBatch sinks. The segments fold
into one servable index exactly as the resumable build's do
(``plans.checkpoint.finalize_index``): ``reduce(merge_indexes,
map(load_index, segment_dirs))`` — the reference's ``repo.merge()``
(term-index/term-index.cpp:94-101) as a metadata-only union.

Streaming docIDs cannot be row_number() over a closed corpus; we use
``xxhash64(url)`` — deterministic, cluster-size independent, collision
probability ~n^2/2^64 (documented trade-off vs the batch path's dense ids).
A merge only needs disjoint ids, and ``merge_indexes(validate=True)`` (the
default) rejects a fold whose segments collide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..corpus import CORPUS_SCHEMA
from ..plans.build import save_segment


def stream_index_build(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source streaming build: new parquet files under ``input_dir``
    become index segments ``out_dir``/segments/batch=<batch id>, each a
    ``save_index`` directory that ``load_index`` reads. Returns the
    terminated StreamingQuery (availableNow) or the running handle.

    The sink is idempotent per micro-batch: each batch writes its segment
    to a batch-id-named directory with overwrite, so a foreachBatch retry
    after a partial failure replaces its own output instead of duplicating
    rows — this is what makes the checkpointed pipeline exactly-once
    end-to-end (at-least-once execution x idempotent sink)."""
    src = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        save_segment(
            spark,
            batch_df.withColumn("doc_id", F.xxhash64("url")),
            f"{out_dir}/segments/batch={batch_id}",
        )

    writer = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over an event stream.

    (window_start, window_end, event_type, n_events, sum_value) — late data
    beyond the watermark is dropped, state is bounded (the canonical
    Structured Streaming stateful-agg shape).
    """
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    # watermarks require TIMESTAMP (ntz event times are normalized first)
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _advance_sessions(state, ts_ns, vals, gap_ns):
    """Shared gap-session kernel (streaming state handler + batch twin).

    ``state``: (start_ns, end_ns, n, sum) of the open session or None.
    ``ts_ns``/``vals``: SORTED event times (int64 ns) and values.
    Returns (closed_sessions, new_state); a session closes when the next
    event is more than ``gap_ns`` after the session's last event.
    """
    if state is not None:
        start_ns, end_ns, n, s = state
    else:
        start_ns, end_ns, n, s = int(ts_ns[0]), int(ts_ns[0]), 0, 0.0
    closed = []
    for t, v in zip(ts_ns, vals):
        if n > 0 and t - end_ns > gap_ns:
            closed.append((start_ns, end_ns, n, s))
            start_ns, n, s = int(t), 0, 0.0
        end_ns = int(max(end_ns, t))
        n += 1
        s += float(v)
    return closed, (start_ns, end_ns, n, s)


def _session_out_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )


def sessionize_batch(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Batch twin of ``sessionize``: every session is emitted (the batch
    corpus is closed, so the trailing open session closes too). Runs the
    SAME per-group kernel as the streaming state handler via
    ``applyInPandas`` — one shuffle on user_id, then narrow per-group
    numpy; user counts are the partition key so no executor ever holds
    more than one user's events (web-scale shape).
    """
    import pandas as pd

    gap_ns = int(pd.Timedelta(gap).total_seconds() * 1_000_000_000)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ts_ns = pdf["ts"].astype("int64").to_numpy()
        vals = pdf["value"].to_numpy()
        order = ts_ns.argsort(kind="stable")
        closed, final = _advance_sessions(None, ts_ns[order], vals[order], gap_ns)
        closed.append(final)
        uid = int(pdf["user_id"].iloc[0])
        return pd.DataFrame(
            {
                "user_id": [uid] * len(closed),
                "session_start": [pd.Timestamp(a) for a, _, _, _ in closed],
                "session_end": [pd.Timestamp(b) for _, b, _, _ in closed],
                "n_events": [n for _, _, n, _ in closed],
                "sum_value": [s for _, _, _, s in closed],
            }
        )

    normalized = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return normalized.groupBy("user_id").applyInPandas(fn, _session_out_schema())


def sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (the canonical custom-state shape the
    built-in windowed aggs can't express: variable-length sessions closed
    by an inactivity gap).

    Emits one row per CLOSED session:
      (user_id, session_start, session_end, n_events, sum_value)
    A session closes when the watermark passes its last event + gap.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = _session_out_schema()
    state_schema = StructType(
        [
            StructField("start_ns", LongType()),
            StructField("end_ns", LongType()),
            StructField("n", LongType()),
            StructField("s", DoubleType()),
        ]
    )
    gap_ns = int(pd.Timedelta(gap).total_seconds() * 1_000_000_000)

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_ns, end_ns, n, s = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_ns)],
                    "session_end": [pd.Timestamp(end_ns)],
                    "n_events": [n],
                    "sum_value": [s],
                }
            )
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        ts_ns = rows["ts"].astype("int64").to_numpy()
        vals = rows["value"].to_numpy()
        order = ts_ns.argsort(kind="stable")
        closed, new_state = _advance_sessions(
            state.get if state.exists else None, ts_ns[order], vals[order], gap_ns
        )
        start_ns, end_ns, n, s = new_state
        state.update((start_ns, end_ns, n, s))
        state.setTimeoutTimestamp(end_ns // 1_000_000 + gap_ns // 1_000_000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(a) for a, _, _, _ in closed],
                    "session_end": [pd.Timestamp(b) for _, b, _, _ in closed],
                    "n_events": [n_ for _, _, n_, _ in closed],
                    "sum_value": [s_ for _, _, _, s_ in closed],
                }
            )

    normalized = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        normalized.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )
