"""Redirect-chain resolution and soft-404 detection — fetch-log hygiene.

Real crawls meet two lies between the frontier and the corpus:

- **3xx chains**: the URL the frontier scheduled is not the URL whose
  content arrived.  The seen set must mark every hop (or the crawl
  re-fetches aliases forever), dedup must key on the FINAL URL, and
  link analysis must collapse chains — so the crawler needs
  ``(url → final_url, n_hops, verdict)`` for every fetched URL.
- **soft 404s**: servers that answer ``200 OK`` with an error page.
  Admitting them poisons the corpus and their outlinks poison the
  frontier; real pipelines classify them from the content itself.

Scale design:

``resolve_redirects`` follows chains by POINTER DOUBLING, not one
join per hop: the jump table ``J(u) = (dest, hops, open)`` starts as
the single-hop map and composes with itself ``ceil(log2(max_hops))``
times, so an 8-hop cap costs 3 self-joins of a NARROW (url, dest,
hops) relation — never the fetch log's payload columns, and never a
driver-side loop over rows.  Chains longer than ``max_hops`` (which
includes every loop, since a loop never terminates) come back
``verdict='unresolved'`` — error-as-data, the crawler drops or
re-budgets them.  A hop whose target was never fetched resolves to
that target with ``verdict='dangling'`` (the frontier can schedule
it): membership is decided by one LEFT join against the log's url set.

``soft404_scores`` is a pure-codegen projection (regexp marker count,
token count, link-density ratio) — it composes into the extraction
scan for free and shuffles nothing.

Reference scope note: the reference (uniparser) delegates redirects to
requests/aiohttp inside ``adapters.py`` (allow_redirects) and has no
corpus-side view of chains; this module is part of the frontier layer
the north rule adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _compose(j: DataFrame) -> DataFrame:
    """One pointer-doubling step: J'(u) = J(J(u)) for open entries.

    ``open`` marks entries whose dest is itself a redirect source not
    yet known to be terminal; closed entries pass through unchanged.
    The self-join key is (dest = url) — narrow rows, uniform keys.
    """
    nxt = j.select(
        F.col("url").alias("_u2"),
        F.col("dest").alias("_d2"),
        F.col("hops").alias("_h2"),
        F.col("open").alias("_o2"),
    )
    joined = j.join(nxt, j["dest"] == nxt["_u2"], "left")
    return joined.select(
        "url",
        F.when(F.col("open") & F.col("_u2").isNotNull(), F.col("_d2"))
        .otherwise(F.col("dest"))
        .alias("dest"),
        F.when(F.col("open") & F.col("_u2").isNotNull(),
               F.col("hops") + F.col("_h2"))
        .otherwise(F.col("hops"))
        .alias("hops"),
        F.when(F.col("open") & F.col("_u2").isNotNull(), F.col("_o2"))
        .otherwise(F.lit(False))
        .alias("open"),
    )


def resolve_redirects(log: DataFrame, max_hops: int = 8) -> DataFrame:
    """Resolve every fetched URL to its final destination.

    Input: one row per FETCHED url with its status and (for 3xx) the
    Location target.  Output: one row per input url —
    ``(url, final_url, n_hops, verdict)`` with verdict ∈
    ``resolved`` (terminal fetch reached), ``dangling`` (chain leaves
    the log — final_url is the unfetched target worth scheduling),
    ``unresolved`` (chain exceeds ``max_hops``; every redirect loop is
    here, since loops never terminate).

    Pointer doubling: ceil(log2(max_hops)) narrow self-joins instead
    of ``max_hops`` sequential ones — at 10^10 URLs each round is one
    shuffle of (url, dest, hops) triples, and 3 rounds resolve chains
    of length 8 (k rounds resolve 2^k).
    """
    is_redir = (
        (F.col("status") >= 300)
        & (F.col("status") < 400)
        & F.col("location").isNotNull()
    )
    base = log.select(
        F.col("url"),
        is_redir.alias("is_redir"),
        F.col("location").alias("loc"),
    )
    # J0: one hop for redirect rows, identity (closed) for terminal rows
    j = base.select(
        "url",
        F.when(F.col("is_redir"), F.col("loc")).otherwise(F.col("url"))
        .alias("dest"),
        F.when(F.col("is_redir"), F.lit(1)).otherwise(F.lit(0))
        .alias("hops"),
        F.col("is_redir").alias("open"),
    )
    from ..engine.ckpt import reliable_this_round, step_checkpoint

    rounds = max(1, (max_hops - 1).bit_length())  # 2^rounds >= max_hops
    for it in range(rounds):
        j = _compose(j)
        # lineage barrier per doubling round (same device as the CC
        # family; durable on the configured-cadence round)
        j = step_checkpoint(j, reliable=reliable_this_round(it))
    # dest still open after 2^rounds hops => loop or over-cap chain.
    # dest closed but absent from the log's url set => dangling.
    urls = log.select(F.col("url").alias("_seen")).distinct()
    out = j.join(urls, j["dest"] == urls["_seen"], "left")
    return out.select(
        "url",
        F.col("dest").alias("final_url"),
        F.col("hops").cast("int").alias("n_hops"),
        F.when(F.col("open") | (F.col("hops") > max_hops), F.lit("unresolved"))
        .when(F.col("_seen").isNull(), F.lit("dangling"))
        .otherwise(F.lit("resolved"))
        .alias("verdict"),
    )


_SOFT404_RE = (
    r"(not found|page does not exist|no longer available|error 404|"
    r"page unavailable)"
)


def soft404_scores(pages: DataFrame) -> DataFrame:
    """Soft-404 classification from page content: ``200 OK`` error
    pages carry error phrasing, very little text, and a high
    link-to-token ratio (pure chrome).  Emits the evidence plus a
    verdict — error-as-data, the admission filter composes on it.

    Output: (url, n_markers, n_tokens, link_ratio, soft404) where
    soft404 = 1 iff a marker fired AND (fewer than 20 tokens OR at
    least 0.5 links per token).
    Pure codegen projection: one regexp_count, one size(split), one
    division — composes into the extraction scan, shuffles nothing.
    """
    lowered = F.lower(F.col("text"))
    n_markers = F.size(
        F.regexp_extract_all(lowered, F.lit(_SOFT404_RE), 1)
    )
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    denom = F.greatest(n_tokens, F.lit(1)).cast("double")
    link_ratio = F.round(F.col("n_links").cast("double") / denom, 4)
    # verdict compares the UNROUNDED ratio (n_links >= r * max(n,1)
    # avoids both the rounding and a lateral-alias reference)
    link_heavy = (
        F.col("n_links").cast("double") >= F.lit(0.5) * denom
    )
    return pages.select(
        F.col("url"),
        n_markers.alias("n_markers"),
        n_tokens.alias("n_tokens"),
        link_ratio.alias("link_ratio"),
        ((n_markers > 0) & ((n_tokens < 20) | link_heavy))
        .cast("int")
        .alias("soft404"),
    )
