"""Sitemap (sitemaps.org XML) source connector + robots discovery.

Sitemaps are how sites *advertise* URLs to a crawler — the natural
seed/refresh feed next to link discovery.  The reference engine has no
crawl-side discovery at all (its CrawlerRule chains start from a
caller-supplied seed, reference crawler.py:156-189); the north rule's
frontier needs one, so the engine carries its own connector:

- :func:`build_sitemap` / :func:`build_sitemap_index` — deterministic
  writers (byte-stable, optional pinned-mtime gzip) so tests and the
  oracle row round-trip known bytes, same policy as ``warc.build_warc``.
- :func:`parse_sitemap` — stdlib ``xml.etree`` parser for ``<urlset>``
  and ``<sitemapindex>`` documents (plain or gzip), namespace-tolerant,
  yielding typed entries; malformed documents raise with the byte
  context so the Spark path can quarantine them as error rows.
- :func:`sitemap_entries` — pages table → entry table via ONE
  Arrow-batched ``mapInPandas`` (file/page = the parallelism unit, no
  shuffle).  ``kind='sitemap'`` rows are index children: the crawl loop
  feeds them back through the fetch round exactly like discovered links
  (BFS over the sitemap tree, no driver-side recursion).
- :func:`sitemap_urls_from_robots` — ``Sitemap:`` line discovery from
  robots.txt bodies with a pure native ``regexp_extract_all`` +
  ``posexplode`` (zero Python; RFC 9309 §2.3 says the directive is
  group-independent, so a plain line scan is the spec behavior).
- :func:`seeds_from_entries` — entry table → frontier-ready
  ``(url, priority)``: sitemap priority ∈ [0,1] (spec default 0.5)
  passes straight through as the frontier priority (the scheduler ranks
  descending), so advertised pages outrank organic discoveries (0.0)
  and recrawls ([-1, 0)), graded by the site's own importance signal.

Scale: a large site ships a sitemapindex over ~50k-URL child sitemaps
(the spec cap); at 10^10-URL scale the entry table is just another
pages-derived relation — entries shuffle as narrow (url, epoch, double)
rows and join the frontier by host bucket like any discovery source.
"""

from __future__ import annotations

import gzip
import io
import re
import xml.etree.ElementTree as ET
from datetime import datetime, timezone
from typing import Any, Dict, Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..engine.rows import map_rows

_GZIP_MAGIC = b"\x1f\x8b"
_NS = "{http://www.sitemaps.org/schemas/sitemap/0.9}"
_CHANGEFREQS = ("always", "hourly", "daily", "weekly", "monthly", "yearly", "never")

ENTRY_SCHEMA = StructType(
    [
        StructField("sitemap_url", StringType(), False),
        StructField("kind", StringType(), False),  # url | sitemap | error
        StructField("loc", StringType(), True),
        StructField("lastmod_epoch", LongType(), True),
        StructField("changefreq", StringType(), True),
        StructField("priority", DoubleType(), True),
    ]
)


def _w3c_datetime(value: str) -> Optional[datetime]:
    """W3C datetime subset the spec allows: date-only or full timestamp
    with 'Z'/offset.  Returns aware UTC datetimes; None if unparsable."""
    v = value.strip()
    for fmt in ("%Y-%m-%d", "%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%dT%H:%M%z"):
        try:
            dt = datetime.strptime(v.replace("Z", "+0000"), fmt)
        except ValueError:
            continue
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.astimezone(timezone.utc)
    return None


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_sitemap(data: bytes) -> List[Dict[str, Any]]:
    """Sitemap XML bytes (plain or gzip) → entry dicts.

    ``<urlset>`` children become ``kind='url'`` entries with the typed
    optional fields (lastmod → aware UTC datetime, priority → float,
    changefreq normalized lowercase); ``<sitemapindex>`` children become
    ``kind='sitemap'`` entries carrying loc + lastmod.  Entries without
    a ``<loc>`` are spec-invalid and skipped.  Anything that is not a
    sitemap document raises ``ValueError`` naming the root element.
    """
    if data[:2] == _GZIP_MAGIC:
        data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
    try:
        root = ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(f"malformed sitemap XML: {exc}") from None
    root_name = _localname(root.tag)
    if root_name == "urlset":
        child_tag, kind = "url", "url"
    elif root_name == "sitemapindex":
        child_tag, kind = "sitemap", "sitemap"
    else:
        raise ValueError(
            f"not a sitemap document: root element <{root_name}>, "
            "expected <urlset> or <sitemapindex>"
        )
    out: List[Dict[str, Any]] = []
    for node in root:
        if _localname(node.tag) != child_tag:
            continue
        fields: Dict[str, str] = {}
        for sub in node:
            fields[_localname(sub.tag)] = (sub.text or "").strip()
        loc = fields.get("loc")
        if not loc:
            continue
        lastmod = _w3c_datetime(fields["lastmod"]) if "lastmod" in fields else None
        priority: Optional[float] = None
        if kind == "url" and "priority" in fields:
            try:
                priority = float(fields["priority"])
            except ValueError:
                priority = None
        changefreq = fields.get("changefreq", "").lower() or None
        if changefreq is not None and changefreq not in _CHANGEFREQS:
            changefreq = None
        out.append(
            {
                "kind": kind,
                "loc": loc,
                "lastmod": lastmod,
                "changefreq": changefreq if kind == "url" else None,
                "priority": priority,
            }
        )
    return out


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def build_sitemap(
    entries: Iterable[Dict[str, Any]],
    gz: bool = False,
) -> bytes:
    """Deterministic ``<urlset>`` writer.  Each entry dict may carry
    loc (required), lastmod (datetime), changefreq, priority."""
    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    ]
    for e in entries:
        lines.append("  <url>")
        lines.append(f"    <loc>{_xml_escape(e['loc'])}</loc>")
        if e.get("lastmod") is not None:
            ts = e["lastmod"].astimezone(timezone.utc)
            lines.append(f"    <lastmod>{ts:%Y-%m-%dT%H:%M:%SZ}</lastmod>")
        if e.get("changefreq"):
            lines.append(f"    <changefreq>{e['changefreq']}</changefreq>")
        if e.get("priority") is not None:
            lines.append(f"    <priority>{e['priority']:.1f}</priority>")
        lines.append("  </url>")
    lines.append("</urlset>")
    body = "\n".join(lines).encode("utf-8")
    if gz:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(body)
        return buf.getvalue()
    return body


def build_sitemap_index(
    locs: Iterable[Tuple[str, Optional[datetime]]],
    gz: bool = False,
) -> bytes:
    """Deterministic ``<sitemapindex>`` writer over (loc, lastmod)."""
    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    ]
    for loc, lastmod in locs:
        lines.append("  <sitemap>")
        lines.append(f"    <loc>{_xml_escape(loc)}</loc>")
        if lastmod is not None:
            ts = lastmod.astimezone(timezone.utc)
            lines.append(f"    <lastmod>{ts:%Y-%m-%dT%H:%M:%SZ}</lastmod>")
        lines.append("  </sitemap>")
    lines.append("</sitemapindex>")
    body = "\n".join(lines).encode("utf-8")
    if gz:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(body)
        return buf.getvalue()
    return body


def sitemap_entries(pages: DataFrame) -> DataFrame:
    """Pages table → sitemap entry table (ENTRY_SCHEMA).

    The scan is pruned to sitemap-shaped URLs (``*.xml`` / ``*.xml.gz``
    paths containing 'sitemap') BEFORE any Python runs; the decode is
    ONE Arrow-batched mapInPandas, no shuffle.  Malformed documents
    become ``kind='error'`` rows with the message in ``loc`` —
    error-as-data, same policy as the extraction engine.
    """
    sm = pages.filter(
        F.col("url").rlike(r"^https?://[^?#]*sitemap[^?#]*\.xml(\.gz)?$")
    ).select(F.col("url").alias("sitemap_url"), F.col("html").alias("body"))

    def decode(u, body):
        raw = bytes(body) if not isinstance(body, str) else body.encode()
        try:
            entries = parse_sitemap(raw)
        except ValueError as exc:
            return [(u, "error", str(exc), None, None, None)]
        return [
            (
                u,
                e["kind"],
                e["loc"],
                int(e["lastmod"].timestamp()) if e["lastmod"] is not None else None,
                e["changefreq"],
                e["priority"],
            )
            for e in entries
        ]

    return map_rows(sm, ENTRY_SCHEMA, decode)


def sitemap_urls_from_robots(pages: DataFrame) -> DataFrame:
    """robots.txt bodies → (host, sitemap_url) via pure native
    expressions (regexp_extract_all + posexplode keeps in-file order).
    RFC 9309 §2.3: ``Sitemap:`` is group-independent, so a plain line
    scan IS the spec semantics — no group state machine needed."""
    host = F.regexp_extract(F.col("url"), r"^https?://([^/:]+)", 1)
    robots = pages.filter(
        F.col("url").rlike(r"^https?://[^/]+/robots\.txt$")
    ).select(host.alias("host"), F.col("text").alias("body"))
    urls = F.regexp_extract_all(
        F.col("body"), F.lit(r"(?mi)^\s*sitemap\s*:\s*(\S+)\s*$"), F.lit(1)
    )
    return robots.select(
        "host", F.posexplode(urls).alias("sitemap_idx", "sitemap_url")
    )


def sitemap_refresh(entries: DataFrame, history: DataFrame) -> DataFrame:
    """Incremental recrawl from sitemap ``lastmod``: which advertised
    URLs actually need a fetch?

    Joins url entries against the fetch-history table
    (``frontier.freshness.update_fetch_history`` schema with a
    ``last_fetch_epoch`` column) and keeps a URL when it is new (no
    history) or its advertised ``lastmod_epoch`` is newer than the last
    fetch.  Entries without a lastmod can't prove freshness either way
    and are kept only when new — their recrawl cadence belongs to the
    change-rate model (``recrawl_priority``), not the sitemap.

    Returns (url, priority, reason) — reason ∈ ('new', 'modified'), the
    lineage column a scheduler logs.  One join on the URL key, narrow
    rows, same bucketing as every other frontier-state join.
    """
    e = entries.filter(F.col("kind") == "url").select(
        F.col("loc").alias("url"),
        F.coalesce(F.col("priority"), F.lit(0.5)).alias("priority"),
        "lastmod_epoch",
    )
    e = e.groupBy("url").agg(
        F.max("priority").alias("priority"),
        F.max("lastmod_epoch").alias("lastmod_epoch"),
    )
    h = history.select(F.col("url_canon").alias("url"), "last_fetch_epoch")
    j = e.join(h, "url", "left")
    is_new = F.col("last_fetch_epoch").isNull()
    modified = F.col("lastmod_epoch").isNotNull() & (
        F.col("lastmod_epoch") > F.col("last_fetch_epoch")
    )
    return (
        j.filter(is_new | modified)
        .select(
            "url",
            "priority",
            F.when(is_new, F.lit("new")).otherwise(F.lit("modified")).alias("reason"),
        )
    )


def sitemap_coverage(sitemap_urls: DataFrame, crawled: DataFrame) -> DataFrame:
    """Per-host sitemap-vs-crawl coverage diff.

    The two discovery channels disagree in both directions: URLs the
    publisher declares that the crawl never reached (frontier/politeness
    gap — schedule them) and URLs the crawl found that no sitemap
    declares (link-only discovery — the sitemap undersells the site).
    One full outer join on the URL key, one host rollup:

    ``(host, n_sitemap, n_crawled, n_both, n_undiscovered,
    n_undeclared, coverage)`` where ``coverage`` =
    round(n_both / n_sitemap, 4), NULL for hosts with no sitemap URLs
    (crawl-only hosts).

    Scale shape: both inputs project to the bare URL string before the
    join (narrow shuffle), the rollup is a map-side-combinable count
    aggregation on the host key, and skewed hosts are AQE's problem —
    no row ever carries page content."""
    s = (
        sitemap_urls.select(F.col("url"))
        .distinct()
        .withColumn("_s", F.lit(1))
    )
    c = (
        crawled.select(F.col("url"))
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    j = s.join(c, "url", "full")
    host = F.regexp_extract(F.col("url"), r"^https?://([^/?#:]+)", 1)
    both = F.col("_s").isNotNull() & F.col("_c").isNotNull()
    agg = j.groupBy(host.alias("host")).agg(
        F.count("_s").alias("n_sitemap"),
        F.count("_c").alias("n_crawled"),
        F.count(F.when(both, 1)).alias("n_both"),
    )
    return agg.select(
        "host",
        "n_sitemap",
        "n_crawled",
        "n_both",
        (F.col("n_sitemap") - F.col("n_both")).alias("n_undiscovered"),
        (F.col("n_crawled") - F.col("n_both")).alias("n_undeclared"),
        F.when(
            F.col("n_sitemap") > 0,
            F.round(F.col("n_both") / F.col("n_sitemap"), 4),
        ).alias("coverage"),
    )


def seeds_from_entries(entries: DataFrame) -> DataFrame:
    """Entry table → frontier-ready ``(url, priority)``.

    The frontier schedules priority DESCENDING (frontier/politeness
    ``host_order``): recrawls sit in [-1, 0), organic link discoveries
    at 0.0 — sitemap-advertised URLs carry their spec priority ∈ [0,1]
    (default 0.5) directly, so the site's own importance signal grades
    them above plain discoveries.  Index children (kind='sitemap') are
    fetch targets, not page seeds — route them through the fetch round
    instead.  Duplicate locs keep the max advertised priority
    (deterministic, order-independent)."""
    return (
        entries.filter(F.col("kind") == "url")
        .select(
            F.col("loc").alias("url"),
            F.coalesce(F.col("priority"), F.lit(0.5)).alias("priority"),
        )
        .groupBy("url")
        .agg(F.max("priority").alias("priority"))
    )


def cross_submission_audit(entries: DataFrame, robots_sitemaps: DataFrame) -> DataFrame:
    """sitemaps.org cross-submission validation: a sitemap hosted on A
    may list URLs on B ONLY if B's robots.txt declares that exact
    sitemap URL (``Sitemap:`` line) — otherwise anyone could publish a
    sitemap claiming a competitor's URLs and poison a crawler's
    frontier with fake lastmods/priorities.  Unvalidated cross-host
    entries must be dropped from discovery; this audit labels every
    entry so the seed feed filters on the verdict.

    ``robots_sitemaps`` is the (host, sitemap_url) relation the robots
    scanner already extracts (``Sitemap:`` discovery lines).  Host
    comparison is exact lowercased authority (the protocol's rule —
    www.a.com and a.com are DIFFERENT hosts for submission purposes).

    Shape: host extraction is codegen regexp; same-host entries short-
    circuit without touching the join; cross-host entries left-join
    the (tiny, broadcast) robots-declaration relation on (loc_host,
    sitemap_url).  Returns ``(sitemap_url, loc, sitemap_host,
    loc_host, verdict)`` with verdict ∈ {same_host, cross_validated,
    cross_unvalidated}.
    """
    host_of = lambda c: F.lower(  # noqa: E731
        F.regexp_extract(c, r"^[^:/?#]+://(?:[^/?#@]*@)?([^/?#]*)", 1)
    )
    base = entries.select(
        F.col("sitemap_url"),
        F.col("loc"),
        host_of(F.col("sitemap_url")).alias("sitemap_host"),
        host_of(F.col("loc")).alias("loc_host"),
    )
    declared = (
        robots_sitemaps.select(
            F.lower(F.col("host")).alias("loc_host"),
            F.col("sitemap_url"),
            F.lit(1).alias("_ok"),
        )
        .distinct()
    )
    joined = base.join(
        F.broadcast(declared), ["loc_host", "sitemap_url"], "left"
    )
    return joined.select(
        "sitemap_url",
        "loc",
        "sitemap_host",
        "loc_host",
        F.when(F.col("sitemap_host") == F.col("loc_host"), F.lit("same_host"))
        .when(F.col("_ok").isNotNull(), F.lit("cross_validated"))
        .otherwise(F.lit("cross_unvalidated"))
        .alias("verdict"),
    )
