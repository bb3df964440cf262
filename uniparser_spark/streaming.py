"""Structured Streaming surface: incremental page ingestion + extraction.

The round-based crawl (crawl/engine.py) is the right execution model for
frontier scheduling — the reference's crawl is inherently round-shaped
(SURVEY.md §1.5).  But the *extraction* side is a pure per-row
transformation, so it composes directly with Structured Streaming for
continuous-ingestion deployments: pages land in a directory/Kafka topic,
the same compiled-rule ``mapInPandas`` runs incrementally, and sinks
receive exactly-once micro-batches with checkpointed progress.

Extraction needs no streaming operator of its own: the batch
``engine.extract.extract_pages`` applied to a streaming DataFrame runs
the same fused UDF per micro-batch partition (rule compilation is
per-executor-process, so micro-batches reuse compiled rules).
:func:`host_rate_metrics` is event-time windowed per-host page counts
with a watermark for late data: the streaming analogue of the crawl's
per-round metrics table.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .crawl.sessions import SESSION_GAP_SEC
from .testgen import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Stream a Common-Crawl-style page directory (parquet files appear
    as upstream fetchers land them)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def host_rate_metrics(pages: DataFrame) -> DataFrame:
    """Per-host page-rate over 1-hour event-time windows with a 2-hour
    late-data bound.

    Streaming aggregation state is keyed by (window, host); the
    watermark lets Spark drop state for closed windows, so the query
    runs indefinitely in bounded memory.
    """
    host = F.regexp_extract(F.col("url"), r"^https?://([^/:]+)", 1)
    return (
        pages.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window(F.col("warc_ts"), "1 hour").alias("win"), host.alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length(F.col("text"))).alias("bytes_text"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "host",
            "n_pages",
            "bytes_text",
        )
    )


def dedup_stream(pages: DataFrame, n_buckets: int = 32) -> DataFrame:
    """Custom stateful streaming operator: exactly-once URL dedup across
    micro-batches via ``applyInPandasWithState``.

    State = the set of seen xxhash64 keys per hash bucket (the same
    sharding as the batch seen-filter, so state volume per group is
    bounded and the shuffle key is skew-free).  First occurrence of a
    URL passes through; repeats in the same or any later micro-batch
    are dropped.  This is the streaming twin of the frontier's
    anti-join dedup — use it when pages arrive continuously instead of
    in crawl rounds.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = pages.schema
    cols = [f.name for f in pages.schema.fields]

    def fn(key, pdfs: Iterator[pd.DataFrame], state: "GroupState") -> Iterator[pd.DataFrame]:
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            fresh_rows = []
            for idx, h in zip(pdf.index, pdf["_h"]):
                h = int(h)
                if h not in seen:
                    seen.add(h)
                    fresh_rows.append(idx)
            if fresh_rows:
                yield pdf.loc[fresh_rows, cols]
        state.update((list(seen),))

    keyed = pages.withColumn("_h", F.xxhash64(F.col("url"))).withColumn(
        "_bucket", F.pmod(F.col("_h"), F.lit(n_buckets)).cast("int")
    )
    return keyed.groupBy("_bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="hashes array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_parquet(result: DataFrame, out_dir: str, checkpoint_dir: str):
    """Start the append-mode sink with checkpointing; the
    ``availableNow`` trigger drains all currently-visible input then
    stops (the batch-compatible trigger used by tests and backfills)."""
    writer = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return writer.trigger(availableNow=True).start()


def session_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of :func:`~uniparser_spark.crawl.sessions.
    sessionize`: gap-based sessionization as a custom stateful operator
    (``applyInPandasWithState``), emitting each session exactly once —
    when it CLOSES (a later event arrives past SESSION_GAP_SEC, or a
    flush sentinel lands).

    State per key is O(1): ``(session_id, start_us, last_us, n_events,
    first_event)`` for the one open session — a host's full history
    never accumulates, so state volume is bounded by the live key set
    regardless of stream length.  Rows where ``flush`` = 1 are
    control events: they close any open session without starting one
    (the drain protocol for bounded runs / graceful shutdown — the
    caller appends one sentinel per key after the data; an unbounded
    deployment would use an event-time timeout instead, same close
    semantics).

    Ordering contract: events are sorted within each micro-batch, but
    CROSS-batch reordering must be bounded by the source (land files
    in time order / use a watermarked upstream) — same discipline
    every incremental sessionizer requires.  Emitted schema matches
    the batch operator exactly: ``(key, session_id, n_events,
    first_event, start_us, end_us, duration_sec)`` with 1-based
    session ids in time order, so a drained sink is oracle-checkable
    against batch SQL.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = SESSION_GAP_SEC * 1_000_000
    out_schema = (
        "host string, session_id long, n_events long, "
        "first_event long, start_us long, end_us long, duration_sec long"
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: "GroupState") -> Iterator[pd.DataFrame]:
        sid, start, last, n, first = (
            state.get if state.exists else (0, None, None, 0, None)
        )
        closed = []

        def close():
            nonlocal start, last, n, first
            if start is not None:
                closed.append(
                    (key[0], sid, n, first, start, last, (last - start) // 1_000_000)
                )
                start, last, n, first = None, None, 0, None

        for pdf in pdfs:
            pdf = pdf.sort_values(["_us", "_id"])
            for us, eid, fl in zip(pdf["_us"], pdf["_id"], pdf["_fl"]):
                us, eid = int(us), int(eid)
                if int(fl):
                    close()
                    continue
                if start is not None and us - last > gap_us:
                    close()
                if start is None:
                    sid += 1
                    start, n, first = us, 0, eid
                last = us
                n += 1
                first = min(first, eid)
        state.update((sid, start, last, n, first))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "host", "session_id", "n_events", "first_event",
                    "start_us", "end_us", "duration_sec",
                ],
            )

    keyed = events.select(
        F.col("host"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        F.col("event_id").cast("long").alias("_id"),
        F.coalesce(F.col("flush"), F.lit(0)).cast("int").alias("_fl"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=(
            "session_id long, start_us long, last_us long, "
            "n_events long, first_event long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
