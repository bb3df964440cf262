"""RSS 2.0 / Atom feed source connector — fresh-content discovery.

Feeds are the third way URLs reach a crawler (after link discovery and
sitemaps): sites advertise their NEWEST content there, so a freshness-
oriented frontier polls feeds at high priority.  The reference engine
has no discovery layer (seeds are caller-supplied,
reference crawler.py:156-189); this connector follows the same
contract as ``sources/sitemap.py``:

- :func:`build_rss` / :func:`build_atom` — deterministic byte-stable
  writers (tests and the oracle row round-trip known bytes).
- :func:`parse_feed` — stdlib ``xml.etree`` parser that dispatches on
  the root element (``<rss>`` → channel items with RFC-822 pubDate,
  ``<feed>`` → Atom entries with ISO-8601 updated), namespace-
  tolerant; malformed documents raise with context so the Spark path
  quarantines them as error rows.
- :func:`feed_entries` — pages table → entry table via ONE
  Arrow-batched ``mapInPandas``; the scan is pruned to feed-shaped
  URLs BEFORE any Python runs; no shuffle.
- :func:`seeds_from_feed` — entry table → frontier-ready
  ``(url, priority)``: feeds advertise fresh content, so the default
  priority (0.8) outranks sitemap defaults (0.5) and organic links
  (0.0) in the scheduler's descending order.

Scale: feeds are small per-document (spec-typical ≤ a few hundred
items); the decode parallelizes per page like every source connector,
and entries shuffle as narrow (url, epoch) rows into the frontier.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from datetime import datetime, timezone
from email.utils import format_datetime, parsedate_to_datetime
from typing import Any, Dict, List, Optional
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..engine.rows import map_rows

_ATOM_NS = "{http://www.w3.org/2005/Atom}"

FEED_ENTRY_SCHEMA = StructType(
    [
        StructField("feed_url", StringType(), False),
        StructField("kind", StringType(), False),  # item | error
        StructField("fmt", StringType(), True),    # rss | atom
        StructField("loc", StringType(), True),
        StructField("title", StringType(), True),
        StructField("pub_epoch", LongType(), True),
        StructField("guid", StringType(), True),
    ]
)


def build_rss(channel_title: str, entries: List[Dict[str, Any]]) -> bytes:
    """Deterministic RSS 2.0 bytes: items with link, title, RFC-822
    pubDate and guid.  Byte-stable for a given input."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        '<rss version="2.0"><channel>',
        f"<title>{escape(channel_title)}</title>",
    ]
    for e in entries:
        parts.append("<item>")
        parts.append(f"<link>{escape(e['loc'])}</link>")
        if e.get("title") is not None:
            parts.append(f"<title>{escape(e['title'])}</title>")
        if e.get("pub") is not None:
            parts.append(f"<pubDate>{format_datetime(e['pub'])}</pubDate>")
        if e.get("guid") is not None:
            parts.append(f"<guid>{escape(e['guid'])}</guid>")
        parts.append("</item>")
    parts.append("</channel></rss>")
    return "".join(parts).encode("utf-8")


def build_atom(feed_title: str, entries: List[Dict[str, Any]]) -> bytes:
    """Deterministic Atom bytes: entries with <link href>, title,
    ISO-8601 <updated> and <id>."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        '<feed xmlns="http://www.w3.org/2005/Atom">',
        f"<title>{escape(feed_title)}</title>",
    ]
    for e in entries:
        parts.append("<entry>")
        parts.append(f'<link href="{escape(e["loc"], {chr(34): "&quot;"})}"/>')
        if e.get("title") is not None:
            parts.append(f"<title>{escape(e['title'])}</title>")
        if e.get("pub") is not None:
            iso = e["pub"].astimezone(timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
            parts.append(f"<updated>{iso}</updated>")
        if e.get("guid") is not None:
            parts.append(f"<id>{escape(e['guid'])}</id>")
        parts.append("</entry>")
    parts.append("</feed>")
    return "".join(parts).encode("utf-8")


def _text(el: Optional[ET.Element]) -> Optional[str]:
    return el.text if el is not None and el.text is not None else None


def _parse_rfc822(value: Optional[str]) -> Optional[datetime]:
    if not value:
        return None
    try:
        dt = parsedate_to_datetime(value.strip())
    except (TypeError, ValueError):
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def _parse_iso(value: Optional[str]) -> Optional[datetime]:
    if not value:
        return None
    v = value.strip().replace("Z", "+00:00")
    try:
        dt = datetime.fromisoformat(v)
    except ValueError:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def parse_feed(raw: bytes) -> List[Dict[str, Any]]:
    """Parse RSS 2.0 or Atom bytes into typed item dicts:
    ``{fmt, loc, title, pub (aware UTC | None), guid}``.

    Dispatch is on the root element; unknown roots and XML errors
    raise ``ValueError`` (the Spark path quarantines as error rows).
    Items without a link are skipped — a feed item that points nowhere
    cannot seed a frontier.
    """
    try:
        root = ET.fromstring(raw)
    except ET.ParseError as exc:
        raise ValueError(f"feed parse error: {exc}") from exc
    tag = root.tag.split("}")[-1]
    items: List[Dict[str, Any]] = []
    if tag == "rss":
        for item in root.iter("item"):
            loc = _text(item.find("link"))
            if not loc:
                continue
            items.append(
                {
                    "fmt": "rss",
                    "loc": loc.strip(),
                    "title": _text(item.find("title")),
                    "pub": _parse_rfc822(_text(item.find("pubDate"))),
                    "guid": _text(item.find("guid")),
                }
            )
    elif tag == "feed":
        for entry in root.iter(f"{_ATOM_NS}entry"):
            link = entry.find(f"{_ATOM_NS}link")
            loc = link.get("href") if link is not None else None
            if not loc:
                continue
            items.append(
                {
                    "fmt": "atom",
                    "loc": loc.strip(),
                    "title": _text(entry.find(f"{_ATOM_NS}title")),
                    "pub": _parse_iso(_text(entry.find(f"{_ATOM_NS}updated"))),
                    "guid": _text(entry.find(f"{_ATOM_NS}id")),
                }
            )
    else:
        raise ValueError(f"not a feed document: root <{tag}>")
    return items


#: URL shapes the scan prefilter accepts as feeds (before any Python).
FEED_URL_RE = r"^https?://[^?#]*(?:/feed/?|/rss/?|\.(?:rss|atom)|(?:feed|rss|atom)[^/]*\.xml)(?:\?[^#]*)?$"


def feed_entries(pages: DataFrame) -> DataFrame:
    """Pages table → feed entry table (FEED_ENTRY_SCHEMA).

    The scan is pruned to feed-shaped URLs BEFORE any Python runs; the
    decode is ONE Arrow-batched mapInPandas, no shuffle.  Malformed
    documents become ``kind='error'`` rows with the message in ``loc``
    — error-as-data, same policy as the sitemap connector.
    """
    fp = pages.filter(F.col("url").rlike(FEED_URL_RE)).select(
        F.col("url").alias("feed_url"), F.col("html").alias("body")
    )

    def decode(u, body):
        raw = bytes(body) if not isinstance(body, str) else body.encode()
        try:
            items = parse_feed(raw)
        except ValueError as exc:
            return [(u, "error", None, str(exc), None, None, None)]
        return [
            (
                u,
                "item",
                it["fmt"],
                it["loc"],
                it["title"],
                int(it["pub"].timestamp()) if it["pub"] is not None else None,
                it["guid"],
            )
            for it in items
        ]

    return map_rows(fp, FEED_ENTRY_SCHEMA, decode)


def seeds_from_feed(entries: DataFrame) -> DataFrame:
    """Feed entry table → frontier-ready (url, priority); items only,
    distinct by url (a story syndicated into several feeds seeds
    once)."""
    return (
        entries.filter(F.col("kind") == "item")
        .select(F.col("loc").alias("url"))
        .distinct()
        .select("url", F.lit(0.8).alias("priority"))
    )
