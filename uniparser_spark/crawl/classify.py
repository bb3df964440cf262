"""URL page-type classification — frontier prioritization by URL shape.

Before a byte is fetched, the URL itself predicts what kind of page it
names: dated slugs are articles, ``/product/``-style paths are catalog
detail pages, ``?page=`` is pagination chrome, ``?q=`` is an infinite
search space, and asset extensions are not HTML at all.  Production
crawlers spend their politeness budget by these classes (fetch articles
and products first, cap pagination, skip search and assets), so the
classifier is a pure scan-speed projection meant to run over the whole
frontier every scheduling round.

The ruleset is deliberately FIRST-MATCH-WINS over documented regexes —
a classification users can predict and extend, not a learned model (a
trained URL model plugs in behind the same output contract).  All
whole-stage codegen: regexp_extract/rlike only, no Python, no shuffle.

Reference scope: the reference dispatches rules by host+regex
(``parsers.py:1178-1185``) but has no notion of page-type priority;
this is part of the frontier layer the north rule adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: first-match-wins (type, path regex, query regex) rules; a NULL
#: pattern means "don't care".  Priority bands: lower fetches first.
PAGE_TYPES = (
    # (page_type, priority, path_pattern, query_pattern)
    ("asset", 9, r"\.(jpe?g|png|gif|webp|svg|ico|css|js|mp3|mp4|zip|pdf|woff2?)$", None),
    ("feed", 4, r"(/feed/?|/rss/?|\.rss|/atom\.xml|\.atom)$", None),
    ("search", 8, r"/search(/|$)", r"(^|&)(q|s|query)="),
    ("pagination", 5, r"/page/[0-9]+/?$", r"(^|&)(page|p|offset|start)=[0-9]+"),
    ("article", 1, r"/[0-9]{4}/[0-9]{2}/[^/]+/?$|/[a-z0-9]+(-[a-z0-9]+){3,}(\.html)?/?$", None),
    ("product", 2, r"/(product|item|dp|p)/[^/]+/?$", None),
    ("section", 3, r"^(/[^/]+){1,2}/?$", None),
)


def _parts(url: Column) -> tuple:
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    return path, query


def classify_urls(df: DataFrame) -> DataFrame:
    """Classify every URL into a page type + scheduling priority band.

    Output: (url, path_depth, has_query, page_type, type_priority).
    A URL matches the FIRST rule whose path pattern (and, for rules
    that have one, EITHER the path or query pattern) hits; unmatched
    URLs land in ``other`` at priority 6.  path_depth counts non-empty
    segments; the root path is depth 0.

    Scale: a pure per-row projection — zero Exchange, zero Python —
    composable with the politeness schedule's band algebra (the
    priority here is one more additive signal source).
    """
    url = F.col("url")
    path, query = _parts(url)
    verdict: Column = F.lit("other")
    prio: Column = F.lit(6)
    for name, band, ppat, qpat in reversed(PAGE_TYPES):
        hit = path.rlike(ppat)
        if qpat is not None:
            hit = hit | query.rlike(qpat)
        verdict = F.when(hit, F.lit(name)).otherwise(verdict)
        prio = F.when(hit, F.lit(band)).otherwise(prio)
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    return df.select(
        url.alias("url"),
        depth.cast("int").alias("path_depth"),
        (query != "").cast("int").alias("has_query"),
        verdict.alias("page_type"),
        prio.cast("int").alias("type_priority"),
    )
