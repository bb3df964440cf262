"""Transient-failure retry scheduling — the frontier's error half.

At web scale a few percent of every fetch round fails transiently
(timeouts, 5xx, connection resets); a crawler that drops them loses
coverage and one that retries immediately hammers sick hosts.  The
standard discipline is capped exponential backoff, expressed here as
two relational operators over a narrow per-URL retry state (the same
fold-a-round-into-state shape as ``freshness.update_fetch_history``):

- :func:`fold_retry_state` — merge one round's error records into
  ``(url_canon, attempts, first_round, last_round, last_error)``;
  a successful fetch CLEARS the URL's retry row (errors and successes
  are disjoint within a round, reference error-as-data semantics).
- :func:`retry_candidates` — emit the URLs whose backoff window has
  elapsed: attempt k waits ``2^(k-1)`` rounds after the k-th failure,
  capped at ``max_retries`` attempts; priority is ``-1 - attempts`` so
  retries rank below fresh discoveries (0), sitemap seeds ((0,1]) and
  freshness recrawls ([-1,0)) — a URL that keeps failing keeps sinking.

Scale: both are single joins/filters on ``url_canon`` — co-partitioned
with the rest of the frontier state, no wide columns, no Python.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F


def fold_retry_state(
    state: Optional[DataFrame],
    errors: DataFrame,
    successes: Optional[DataFrame],
    now_round: int,
) -> DataFrame:
    """state: (url_canon, attempts, first_round, last_round, last_error)
    or None; errors: (url_canon, error) — this round's failed fetches;
    successes: (url_canon) — this round's successful fetches, whose
    retry rows (if any) are cleared."""
    fresh = errors.select(
        "url_canon",
        F.lit(1).cast("long").alias("attempts"),
        F.lit(now_round).cast("int").alias("first_round"),
        F.lit(now_round).cast("int").alias("last_round"),
        F.col("error").alias("last_error"),
    )
    if state is None:
        return fresh
    if successes is not None:
        state = state.join(
            successes.select("url_canon"), "url_canon", "left_anti"
        )
    e = errors.select("url_canon", F.col("error").alias("_err"))
    s = state.select(
        "url_canon",
        F.col("attempts").alias("_at"),
        F.col("first_round").alias("_fr"),
        F.col("last_round").alias("_lr"),
        F.col("last_error").alias("_le"),
    )
    failed_now = F.col("_err").isNotNull()
    return s.join(e, "url_canon", "full").select(
        "url_canon",
        (F.coalesce(F.col("_at"), F.lit(0)) + failed_now.cast("long")).alias(
            "attempts"
        ),
        F.coalesce(F.col("_fr"), F.lit(now_round)).cast("int").alias("first_round"),
        F.when(failed_now, F.lit(now_round))
        .otherwise(F.col("_lr"))
        .cast("int")
        .alias("last_round"),
        F.coalesce(F.col("_err"), F.col("_le")).alias("last_error"),
    )


def retry_candidates(
    state: DataFrame,
    now_round: int,
) -> DataFrame:
    """Retry rows whose backoff has elapsed: after the k-th failure the
    URL waits ``2^(k-1)`` rounds; URLs past 3 attempts are dead
    (filter them into a quarantine table via the complement).  Returns
    (url, priority, attempts) with priority ``-1 - attempts``."""
    backoff = F.pow(F.lit(2.0), (F.col("attempts") - 1).cast("double"))
    due = (F.lit(now_round) - F.col("last_round")).cast("double") >= backoff
    return (
        state.filter((F.col("attempts") <= 3) & due)
        .select(
            F.col("url_canon").alias("url"),
            (F.lit(-1.0) - F.col("attempts").cast("double")).alias("priority"),
            "attempts",
        )
    )
