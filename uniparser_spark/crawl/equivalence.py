"""Unified URL-equivalence view: redirects + rel=canonical + DUST in one
precedence-resolved mapping.

A crawl sees three independent "this URL is really that URL" signals:

1. **HTTP redirects** — the server's own statement
   (:func:`~uniparser_spark.crawl.redirects.resolve_redirects`,
   pointer-doubled multi-hop resolution);
2. **rel=canonical** — the publisher's in-page declaration
   (:func:`~uniparser_spark.textops.metadata.harvest_metadata`);
3. **DUST parameter rules** — mined syntactic aliasing
   (:func:`~uniparser_spark.crawl.dust.apply_dust_rules`).

Pipelines that treat these separately re-fetch and re-store the same
content under several names.  This view folds all three into ONE
``url -> canonical_url`` mapping with documented precedence —
``redirect`` (strongest: the server refuses to serve the old name) >
``rel_canonical`` (explicit editorial claim) > ``dust`` (statistical) >
``self`` — plus a ``chained`` flag marking targets that are themselves
non-canonical (one more resolution step would move them again; full
transitive closure is the CC family's job —
``graph.dedup_clusters`` — this view deliberately stays one-step so the
mapping is cheap and the oracle analytic).

Scale shape: every join is on narrow URL-string keys (the page bodies
never enter the plan), DUST rules are broadcast, redirect resolution is
ceil(log2(max_hops)) shuffles of (url, dest, hops) triples, and the
``chained`` flag is one self-join on the target key.  At 10^10 URLs this
is the pre-fetch collapse pass that converts duplicate fetches into
frontier budget.

Reference parity: the reference crawls redirects one hop at a time
inside its HTTP client (crawler.py's per-request ``allow_redirects``)
and has no alias model; this is the set-at-a-time equivalent a Spark
frontier needs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dust import apply_dust_rules
from .redirects import resolve_redirects


def url_equivalence(
    pages: DataFrame,
    log: DataFrame,
    rules: Optional[DataFrame] = None,
) -> DataFrame:
    """One row per page URL: ``(url, canonical_url, source, chained)``.

    ``pages``: one row per fetched URL with its harvested
    ``canonical`` (NULL when the page declared none).
    ``log``: the fetch log (url, status, location) —
    :func:`resolve_redirects`' input contract.
    ``rules``: optional DUST (host, param) rules; broadcast.

    ``source`` ∈ {redirect, rel_canonical, dust, self}; redirect wins
    over rel=canonical wins over DUST.  Loops (``unresolved`` redirect
    verdicts) deliberately do NOT map — a loop has no canonical name.
    ``chained`` is true when the chosen target itself has a
    non-identity mapping in this view (the one-step residue).
    """
    urls = pages.select(
        F.col("url"), F.col("canonical").alias("_rel")
    )
    red = (
        resolve_redirects(log)
        .filter(
            (F.col("verdict") != "unresolved")
            & (F.col("final_url") != F.col("url"))
        )
        .select("url", F.col("final_url").alias("_red"))
    )
    j = urls.join(red, "url", "left")
    if rules is not None:
        dust_in = pages.select(
            F.col("url"), F.col("url").alias("url_canon")
        )
        dusted = apply_dust_rules(dust_in, rules).select(
            "url",
            F.when(
                F.col("url_canon") != F.col("url"), F.col("url_canon")
            ).alias("_dust"),
        )
        j = j.join(dusted, "url", "left")
    else:
        j = j.withColumn("_dust", F.lit(None).cast("string"))
    rel_ok = F.col("_rel").isNotNull() & (F.col("_rel") != F.col("url"))
    canon = F.coalesce(
        F.col("_red"),
        F.when(rel_ok, F.col("_rel")),
        F.col("_dust"),
        F.col("url"),
    )
    src = (
        F.when(F.col("_red").isNotNull(), F.lit("redirect"))
        .when(rel_ok, F.lit("rel_canonical"))
        .when(F.col("_dust").isNotNull(), F.lit("dust"))
        .otherwise(F.lit("self"))
    )
    m = j.select("url", canon.alias("canonical_url"), src.alias("source"))
    nonself = (
        m.filter(F.col("source") != "self")
        .select(F.col("url").alias("_t"))
        .distinct()
    )
    out = m.join(nonself, m["canonical_url"] == nonself["_t"], "left")
    return out.select(
        "url",
        "canonical_url",
        "source",
        ((F.col("source") != "self") & F.col("_t").isNotNull()).alias(
            "chained"
        ),
    )
