"""Page-metadata harvest: title / description / OpenGraph / rel=canonical
/ hreflang / JSON-LD over the page head.

A webtext training pipeline records per-document provenance metadata the
moment a page is parsed: the ``<title>``, the meta description, the
OpenGraph card, the publisher-declared canonical URL (the strongest
explicit duplicate signal on the open web), the hreflang alternate set
(language-variant clusters), and any JSON-LD structured-data types.  The
reference engine would need a hand-written rule chain per field
(``parsers.py`` CSS chains, e.g. ``test_parsers.py``'s ``title`` rule);
this operator is the rule-free batteries-included harvest every crawl
writes alongside the extracted text.

Contract (documented so the DuckDB oracle can predict it on synthesized
pages):

- ``title``: whitespace-normalized text of the FIRST ``<title>`` element
  in document order; NULL when absent.
- ``description``: ``content`` of the first ``<meta name="description">``
  (name matched case-insensitively); NULL when absent.
- ``og_title`` / ``og_url``: ``content`` of the first
  ``<meta property="og:title">`` / ``og:url``; NULL when absent.
- ``canonical``: ``href`` of the first ``<link rel="canonical">``,
  resolved against ``base_url`` when one is supplied (RFC 3986 join, the
  same stdlib resolution the crawl engine uses for anchors); NULL when
  absent.  ``rel`` is matched as a whitespace-separated token list, so
  ``rel="canonical nofollow"`` still counts.
- ``n_hreflang``: count of ``<link rel="alternate" hreflang=...>``
  elements (distinct-ness is the publisher's problem; the raw count is
  the audit signal).
- ``jsonld_types``: sorted-distinct ``@type`` strings found in
  ``<script type="application/ld+json">`` payloads, comma-joined; arrays
  of objects and ``@graph`` containers are walked one level deep; NULL
  when no type was found.
- ``n_jsonld_bad``: number of ld+json scripts that failed to parse —
  error-as-data, never an exception (the reference's ``__schema__``
  philosophy; chains.py keeps malformed input as inspectable rows).
- ``published``: ``content`` of the first
  ``<meta property="article:published_time">``, verbatim (timestamp
  parsing is ``operators.py``'s time operator, composable downstream).

Spark shape: ONE ``mapInPandas`` crossing over (id[, base_url], html) —
the DOM is parsed once per page with the same in-repo tokenizer the rule
engine uses, all eight fields are collected in a single pre-order walk,
and the output rows are narrow strings/ints.  At 10^10-page scale this
is the cheapest possible plan: no shuffle, no second DOM build (pair it
with the fused rule pass via ``engine/extract.py`` when rules also run),
and Arrow batches amortize the Python crossing.
"""

from __future__ import annotations

import json
from typing import List, Optional, Tuple
from urllib.parse import urljoin

from pyspark.sql import DataFrame, functions as F

from ..dom.html import parse_html
from ..engine.rows import map_rows
from ..dom.nodes import Element


def _norm(s: str) -> str:
    return " ".join(s.split())


def _rel_tokens(el: Element) -> frozenset:
    # the DOM's Element.get returns list attrs (rel/class) pre-split
    rel = el.get("rel") or []
    if isinstance(rel, str):  # defensive: plain-string attr maps
        rel = rel.split()
    return frozenset(t.lower() for t in rel)


def _jsonld_types(payload: str) -> Tuple[List[str], int]:
    """(@type strings found, 1 if the payload failed to parse else 0)."""
    try:
        data = json.loads(payload)
    except (ValueError, TypeError):
        return [], 1
    out: List[str] = []
    items = data if isinstance(data, list) else [data]
    for item in items:
        if not isinstance(item, dict):
            continue
        graph = item.get("@graph")
        nodes = [item] + (graph if isinstance(graph, list) else [])
        for node in nodes:
            if isinstance(node, dict):
                t = node.get("@type")
                if isinstance(t, str):
                    out.append(t)
                elif isinstance(t, list):
                    out.extend(x for x in t if isinstance(x, str))
    return out, 0


def harvest_page_metadata(
    html: str, base_url: Optional[str] = None
) -> Tuple[
    Optional[str], Optional[str], Optional[str], Optional[str],
    Optional[str], int, Optional[str], int, Optional[str],
]:
    """Single-page harvest; one DOM parse, one pre-order walk."""
    doc = parse_html(html)
    title = description = og_title = og_url = canonical = published = None
    n_hreflang = n_bad = 0
    types: List[str] = []
    for el in doc.iter_elements():
        tag = el.tag
        if tag == "title":
            if title is None:
                title = _norm(el.text)
        elif tag == "meta":
            name = (el.get("name") or "").lower()
            prop = (el.get("property") or "").lower()
            content = el.get("content")
            if content is None:
                continue
            if description is None and name == "description":
                description = content
            elif og_title is None and prop == "og:title":
                og_title = content
            elif og_url is None and prop == "og:url":
                og_url = content
            elif published is None and prop == "article:published_time":
                published = content
        elif tag == "link":
            rel = _rel_tokens(el)
            if "canonical" in rel:
                href = el.get("href")
                if canonical is None and href is not None:
                    canonical = urljoin(base_url, href) if base_url else href
            elif "alternate" in rel and el.get("hreflang") is not None:
                n_hreflang += 1
        elif tag == "script" and (el.get("type") or "").lower() == "application/ld+json":
            ts, bad = _jsonld_types(el.text)
            types.extend(ts)
            n_bad += bad
    jsonld = ",".join(sorted(set(types))) if types else None
    return (
        title, description, og_title, og_url, canonical,
        n_hreflang, jsonld, n_bad, published,
    )


def harvest_hreflang(df: DataFrame) -> DataFrame:
    """Explode every ``<link rel="alternate" hreflang=...>`` into an edge
    table ``(url, hreflang, href)`` — href resolved against the page URL
    — one DOM parse per page, one Arrow crossing, edges in document
    order.  Pages with no alternates contribute no rows."""
    schema = "url string, hreflang string, href string"

    def edges(base, html):
        for el in parse_html(html).iter_elements():
            if el.tag != "link":
                continue
            lang = el.get("hreflang")
            href = el.get("href")
            if lang is None or href is None or "alternate" not in _rel_tokens(el):
                continue
            yield base, lang, urljoin(base, href) if base else href

    return map_rows(df.select("url", "html"), schema, edges)


def hreflang_audit(edges: DataFrame) -> DataFrame:
    """Per-page hreflang consistency audit over a
    :func:`harvest_hreflang` edge table.

    Search engines honor hreflang clusters only when they are
    *reciprocal* (every target page links back) and *self-inclusive*
    (the page lists its own URL).  Output per declaring page:
    ``(url, n_alternates, n_reciprocal, has_self, verdict)`` with
    verdict ``broken`` (≥1 non-reciprocal edge) > ``missing_self`` >
    ``ok``.  One distinct-edge self-join on (href, url) string keys —
    narrow rows, no page bytes; at web scale the join key is the URL
    pair, uniform unless one page declares millions of alternates
    (a trap the n_alternates count itself exposes)."""
    e = edges.select("url", "href")
    rev = (
        e.select(F.col("href").alias("_u"), F.col("url").alias("_t"))
        .distinct()
        .withColumn("_rec", F.lit(1))
    )
    j = e.join(
        rev,
        (e["url"] == rev["_u"]) & (e["href"] == rev["_t"]),
        "left",
    )
    agg = j.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_alternates"),
        F.sum(F.coalesce(F.col("_rec"), F.lit(0))).alias("n_reciprocal"),
        F.max(
            F.when(F.col("href") == F.col("url"), 1).otherwise(0)
        ).alias("_self"),
    )
    return agg.select(
        "url",
        "n_alternates",
        "n_reciprocal",
        (F.col("_self") == 1).alias("has_self"),
        F.when(
            F.col("n_reciprocal") < F.col("n_alternates"), F.lit("broken")
        )
        .when(F.col("_self") == 0, F.lit("missing_self"))
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    )


def harvest_microdata(df: DataFrame) -> DataFrame:
    """schema.org microdata census per page — the pre-JSON-LD
    structured-data dialect still carried by a large share of the web.

    Flat-count contract (scope nesting is deliberately NOT
    reconstructed — this is the census that decides whether a page is
    worth a full structured-data extraction pass):

    - ``n_scopes``: elements carrying an ``itemscope`` attribute;
    - ``itemtypes``: sorted-distinct ``itemtype`` values across scopes,
      comma-joined; NULL when no scope declares a type;
    - ``n_props``: elements carrying an ``itemprop`` attribute.

    One DOM parse, one pre-order walk, one Arrow crossing."""
    schema = "doc_id long, n_scopes int, itemtypes string, n_props int"

    def census(doc_id, html):
        n_s = n_p = 0
        ts: List[str] = []
        for el in parse_html(html).iter_elements():
            if el.get("itemscope") is not None:
                n_s += 1
                t = el.get("itemtype")
                if t:
                    ts.append(t)
            if el.get("itemprop") is not None:
                n_p += 1
        return [(doc_id, n_s, ",".join(sorted(set(ts))) if ts else None, n_p)]

    return map_rows(df.select("doc_id", "html"), schema, census)


def harvest_metadata(df: DataFrame) -> DataFrame:
    """Page-metadata harvest as one Arrow crossing; relative URLs
    resolve against the ``base_url`` column.

    Returns (id, title, description, og_title, og_url, canonical,
    n_hreflang, jsonld_types, n_jsonld_bad, published) per page.
    """
    schema = (
        "doc_id long, title string, description string, "
        "og_title string, og_url string, canonical string, "
        "n_hreflang int, jsonld_types string, n_jsonld_bad int, "
        "published string"
    )
    return map_rows(
        df.select("doc_id", "html", "base_url"),
        schema,
        lambda i, h, base: [(i, *harvest_page_metadata(h, base))],
    )


def bitext_candidates(
    edges: DataFrame,
    features: DataFrame,
    cross_lang_only: bool = True,
) -> DataFrame:
    """Parallel-document (bitext) candidate mining from hreflang
    clusters — the highest-precision alignment signal a crawl has:
    sites DECLARE their own translations, so mining starts from the
    reciprocal hreflang pairs instead of embedding-similarity over the
    whole corpus (the CCAligned observation: URL/annotation pairing
    beats content matching where it exists).

    Inputs: a :func:`harvest_hreflang` edge table ``(url, hreflang,
    href)`` and a per-url feature table ``(url, n_tokens,
    template_fp)`` (dom_structure + token counts joined upstream).

    A candidate is an unordered page pair with BOTH directed edges
    present (reciprocity — the same bar search engines apply; dangling
    and phantom alternates self-eliminate in the join).  lang_a/lang_b
    are the hreflang values the COUNTERPART edge declares for each
    page.  ``cross_lang_only`` keeps pairs whose primary language
    subtags differ (en-US/en-GB regional variants are duplicates, not
    bitext).  Alignment confidence, the downstream mining prior:
    ``align_score = 0.5*same_template + 0.5*len_ratio`` — translated
    pages on one site almost always share a template and have
    comparable token counts.

    Output: (url_a, url_b, lang_a, lang_b, len_ratio 4-dp,
    same_template, align_score 4-dp), url_a < url_b.

    Scale: ONE map-side-combinable groupBy on the unordered (url_a,
    url_b) key over the symmetrized edge relation (narrow, uniform
    unless one page declares millions of alternates — the audit's
    n_alternates exposes that trap), then two feature joins keyed by
    url.  No page bytes move; clusters never materialize — reciprocity
    is pairwise, and the single pass means the upstream DOM harvest
    runs once (a fwd/rev self-join would re-execute it per branch).
    """
    # Symmetrize-then-aggregate instead of a fwd/rev self-join: a join
    # would re-execute the upstream lineage for BOTH branches (the DOM
    # harvest would run twice — confirmed in the formatted plan), and
    # reciprocity is just "both directions present" on the unordered
    # key, which ONE map-side-combinable groupBy answers.  If a page
    # declares several hreflangs for the same directed pair (invalid
    # per spec but seen in the wild), the lexicographically smallest
    # wins — deterministic, documented.
    sym = edges.filter(F.col("url") != F.col("href")).select(
        F.least("url", "href").alias("url_a"),
        F.greatest("url", "href").alias("url_b"),
        F.when(F.col("url") < F.col("href"), F.lit("f"))
        .otherwise(F.lit("r"))
        .alias("_dir"),
        "hreflang",
    )
    pairs = (
        sym.groupBy("url_a", "url_b")
        .agg(
            F.min(
                F.when(F.col("_dir") == "f", F.col("hreflang"))
            ).alias("lang_b"),
            F.min(
                F.when(F.col("_dir") == "r", F.col("hreflang"))
            ).alias("lang_a"),
            F.countDistinct("_dir").alias("_nd"),
        )
        .filter(F.col("_nd") == 2)
        .select("url_a", "url_b", "lang_a", "lang_b")
    )
    if cross_lang_only:
        pairs = pairs.filter(
            F.split(F.col("lang_a"), "-")[0] != F.split(F.col("lang_b"), "-")[0]
        )
    fa = features.select(
        F.col("url").alias("url_a"),
        F.col("n_tokens").alias("_na"),
        F.col("template_fp").alias("_fa"),
    )
    fb = features.select(
        F.col("url").alias("url_b"),
        F.col("n_tokens").alias("_nb"),
        F.col("template_fp").alias("_fb"),
    )
    j = pairs.join(fa, "url_a").join(fb, "url_b")
    ratio = F.when(
        F.greatest("_na", "_nb") == 0, F.lit(1.0)
    ).otherwise(
        F.least("_na", "_nb").cast("double")
        / F.greatest("_na", "_nb").cast("double")
    )
    same = (F.col("_fa") == F.col("_fb")).cast("int")
    return j.select(
        "url_a",
        "url_b",
        "lang_a",
        "lang_b",
        F.round(ratio, 4).alias("len_ratio"),
        same.alias("same_template"),
        F.round(same * F.lit(0.5) + ratio * F.lit(0.5), 4).alias(
            "align_score"
        ),
    )
