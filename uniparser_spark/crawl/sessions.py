"""Gap-based sessionization of fetch/event logs.

A crawl operations pipeline reads its own fetch log constantly: "how
long do we stay on a host per visit", "how many fetches per politeness
session", "did the adaptive-delay change shorten host sessions".  The
classic primitive is GAP SESSIONIZATION: order a key's events by time
and cut a new session whenever the gap to the previous event exceeds a
threshold.  The reference engine has no log analytics at all (its
crawler is a single asyncio loop — ``crawler.py:191-224`` keeps no
fetch history); this is part of the beyond-reference ops surface.

Scale shape: ONE Exchange total (measured plan, PLANS.md).  The
``lag`` that measures the gap and the running ``sum`` that numbers
sessions share partitioning and ordering, so both windows run over the
single sort; and the closing groupBy(key, session_id) adds NO second
Exchange — its grouping keys are a superset of the window's hash
partitioning key, so Spark's ClusteredDistribution is already
satisfied and the aggregate runs in place.  Keys
are hosts/users (bounded per-key row counts); a pathological hot key
degrades the sort, not the cluster — same skew posture as the
politeness scheduler, and the same salting applies if needed.

Determinism: ordering ties break on the event id, timestamps are
compared in integer microseconds (``unix_micros`` / DuckDB
``epoch_us``), and durations use integer division — no floats anywhere,
so the DuckDB oracle is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: a gap longer than this closes a session (sessionize, session_stream)
SESSION_GAP_SEC = 1800


def sessionize(df: DataFrame) -> DataFrame:
    """Cut each key's event stream into sessions at > SESSION_GAP_SEC gaps.

    Output one row per session: ``(key, session_id, n_events,
    first_event, start_us, end_us, duration_sec)`` with 1-based
    ``session_id`` in time order.
    """
    # testdata timestamps are TIMESTAMP_NTZ; the session tz is pinned to
    # UTC (engine/session.py:55) so the cast is offset-free and matches
    # DuckDB's epoch_us over the same naive values.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    gap_us = SESSION_GAP_SEC * 1_000_000
    prev = F.lag(us).over(w)
    new_session = (
        prev.isNull() | ((us - prev) > F.lit(gap_us))
    ).cast("long")
    numbered = df.select(
        F.col("user_id"),
        F.col("event_id"),
        us.alias("_us"),
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.min("_us").alias("start_us"),
            F.max("_us").alias("end_us"),
        )
        .select(
            "user_id",
            "session_id",
            "n_events",
            "first_event",
            "start_us",
            "end_us",
            F.expr("(end_us - start_us) div 1000000").alias("duration_sec"),
        )
    )


def failure_episodes(df: DataFrame) -> DataFrame:
    """Host-outage detection: maximal runs of consecutive FAILED
    fetches per host (gaps-and-islands over the fetch log).

    A retry policy (frontier/retry.py) reacts per URL; outage detection
    reacts per HOST — a run of consecutive failures across different
    URLs means the host (or its edge) is down and the scheduler should
    pause the whole host queue instead of burning budget URL by URL.
    The reference's asyncio crawler has no fetch history at all
    (``crawler.py:191-224``); this is beyond-reference ops surface.

    Island construction is the classic two-row_number difference: with
    events ordered per host, ``rn - row_number() within (host, ok)`` is
    constant exactly on maximal same-verdict runs.  Both row_numbers
    share the window sort, and the closing groupBy keys are a superset
    of the window partitioning — same ONE-Exchange shape as
    :func:`sessionize` (the grouping runs in place).

    Input rows are ``(host, ts, event_id, ok)``.  Output, one row per
    failure episode of ≥ 2 failures: ``(host, start_us, end_us,
    n_failures, first_event, recovered)`` where ``recovered=1`` iff the
    host logged ANY event after the episode (islands are maximal, so
    that event is a success);
    ``recovered=0`` marks hosts still dark at the end of the log.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("host").orderBy(us.asc(), F.col("event_id").asc())
    w_ok = Window.partitionBy("host", "ok").orderBy(
        us.asc(), F.col("event_id").asc()
    )
    numbered = df.select(
        F.col("host"),
        F.col("event_id"),
        F.col("ok"),
        us.alias("_us"),
        F.row_number().over(w).alias("_rn"),
        (F.row_number().over(w) - F.row_number().over(w_ok)).alias("_island"),
        F.count(F.lit(1)).over(Window.partitionBy("host")).alias("_total"),
    )
    return (
        numbered.filter(~F.col("ok").cast("boolean"))
        .groupBy("host", "_island")
        .agg(
            F.min("_us").alias("start_us"),
            F.max("_us").alias("end_us"),
            F.count(F.lit(1)).alias("n_failures"),
            F.min("event_id").alias("first_event"),
            F.max("_rn").alias("_last_rn"),
            F.max("_total").alias("_tot"),
        )
        .filter(F.col("n_failures") >= 2)
        .select(
            "host",
            "start_us",
            "end_us",
            "n_failures",
            "first_event",
            (F.col("_last_rn") < F.col("_tot")).cast("int").alias("recovered"),
        )
    )
