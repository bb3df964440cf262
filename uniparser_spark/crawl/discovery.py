"""Unified discovery-feed merge: one admission gate for every URL
source a crawl runs.

A production crawl discovers URLs through half a dozen channels at
once — extracted links, sitemaps, RSS/Atom feeds, CDX backfill, seed
lists — and each channel has a different trust level and a different
failure mode (links spam-amplify, sitemaps lie about freshness, CDX
resurrects dead URLs).  Admitting them independently double-schedules
the same URL under different priorities; this module is the single
funnel: per URL one winner by SOURCE PRECEDENCE, then a per-source
admission quota so no channel (a 10^8-row CDX dump, a link explosion)
can flood the round's frontier intake.

Reference scope: the reference crawler has exactly one discovery
channel (rule-extracted ``__request__`` URLs, crawler.py:156-189);
multi-source intake is cluster-scale surface with no counterpart.

Scale shape: one union of narrow (url, source, priority) rows; winner
election is a per-URL min-struct aggregate (map-side combined — NOT a
row_number window, so the hot-URL key never sorts); the quota pass is
the salted two-phase trim politeness already uses, here per SOURCE
(bounded channel count → bounded partitions).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, Window, functions as F

#: Trust order: explicit seeds first, then curated channels,
#: harvested links, archive backfill last.
PRECEDENCE = ("seed", "sitemap", "feed", "link", "cdx")


def merge_discovery_feeds(
    feeds: DataFrame,
    quotas: Optional[Dict[str, int]] = None,
) -> DataFrame:
    """``feeds`` is the unioned (url, source, priority) relation.

    Per URL the winning row is the one with the best (lowest-index)
    source in ``PRECEDENCE`` (unknown sources rank after all known
    ones, by name), ties by lowest priority value.  ``quotas`` caps
    admissions per source AFTER winner election (so a URL losing to a
    better source never consumes the worse source's quota); within a
    source, lowest priority first, then url — deterministic.

    Returns ``(url, source, priority, src_rank, admitted)`` — one row
    per distinct URL; callers filter ``admitted = 1`` into
    schedule_batch.
    """
    rank = F.lit(len(PRECEDENCE))
    for i, name in enumerate(reversed(PRECEDENCE)):
        rank = F.when(
            F.col("source") == name, F.lit(len(PRECEDENCE) - 1 - i)
        ).otherwise(rank)
    keyed = feeds.select(
        "url",
        F.struct(
            rank.cast("int").alias("src_rank"),
            F.col("priority").cast("int").alias("priority"),
            F.col("source"),
        ).alias("_k"),
    )
    winners = (
        keyed.groupBy("url")
        .agg(F.min("_k").alias("w"))
        .select(
            "url",
            F.col("w.source").alias("source"),
            F.col("w.priority").alias("priority"),
            F.col("w.src_rank").alias("src_rank"),
        )
    )
    if not quotas:
        return winners.withColumn("admitted", F.lit(1))
    q = F.lit(None).cast("int")
    for name, cap in sorted(quotas.items()):
        q = F.when(F.col("source") == name, F.lit(int(cap))).otherwise(q)
    staged = winners.withColumn("_q", q)
    uncapped = staged.filter(F.col("_q").isNull())
    capped = staged.filter(F.col("_q").isNotNull())
    # salted two-phase trim (schedule_batch's shape): the exact
    # per-source sort only ever sees <= 16*cap pre-survivors, so a
    # 10^8-row channel never globally sorts
    order = (F.col("priority").asc(), F.col("url").asc())
    salted = Window.partitionBy(
        "source", F.pmod(F.xxhash64("url"), F.lit(16))
    ).orderBy(*order)
    pre = capped.withColumn("_srn", F.row_number().over(salted))
    losers = pre.filter(F.col("_srn") > F.col("_q"))
    exact = Window.partitionBy("source").orderBy(*order)
    survivors = pre.filter(F.col("_srn") <= F.col("_q")).withColumn(
        "_rn", F.row_number().over(exact)
    )
    cols = ["url", "source", "priority", "src_rank"]
    return (
        uncapped.select(*cols, F.lit(1).alias("admitted"))
        .unionByName(
            survivors.select(
                *cols,
                (F.col("_rn") <= F.col("_q")).cast("int").alias("admitted"),
            )
        )
        .unionByName(losers.select(*cols, F.lit(0).alias("admitted")))
    )
