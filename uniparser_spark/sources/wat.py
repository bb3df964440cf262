"""WAT (Web Archive Transformation) connector — Common Crawl's
metadata sibling of WARC/WET.

Common Crawl ships three parallel segment families: ``.warc.gz`` (raw
captures), ``.wet.gz`` (extracted text) and ``.wat.gz`` (per-record
JSON metadata: outlinks with anchors, <head> title/metas, HTTP
headers).  The reference engine never reads archives at all (it starts
at fetched markup, reference ``crawler.py:156-189``); a frontier at the
north rule's 10^10-URL scale is *bootstrapped from* WAT — the link
graph and seed expansion come straight out of these envelopes without
touching the 10× heavier WARC bytes.  So the engine carries its own
connector, shaped exactly like ``sources/warc.py``:

- :func:`build_wat` — deterministic writer: one WARC ``metadata``
  record per page, payload a compact sorted-keys JSON envelope on the
  published WAT layout (``Envelope.Payload-Metadata.
  HTTP-Response-Metadata.HTML-Metadata.{Head.Title, Links[]}``).
- :func:`records_to_meta` — stdlib parser: metadata records →
  ``(url, warc_ts, title, links, valid)`` dicts.  Malformed JSON is
  error-as-data (``valid=0``, NULL title, empty links) — a corrupt
  envelope must not kill a segment scan.
- :func:`read_wat` — ``binaryFile`` over a directory of segments + ONE
  Arrow-batched ``mapInPandas`` decode per file.  The file is the
  parallelism unit (Common Crawl's own sharding); no shuffle anywhere,
  and the WARC bytes never enter the plan.

Scale shape: a 100 TB crawl's WAT layer is ~3 TB; 1000 executors
stream segments independently and the downstream link-graph build
(crawl/links.py, graph.py) starts from the exploded ``links`` column —
the whole bootstrap is scan → explode → narrow-key shuffles.
"""

from __future__ import annotations

import json
from typing import Any, Dict, Iterable, Iterator, List, Optional, Tuple

from .warc import _parse_warc_date, _warc_record, iter_warc_records

__all__ = ["build_wat", "records_to_meta", "read_wat"]


def build_wat(
    entries: Iterable[Dict[str, Any]],
    gzip_per_record: bool = True,
) -> bytes:
    """Deterministic WAT writer.

    ``entries`` are dicts with ``url`` (str), ``ts`` (aware datetime),
    optional ``title`` (str) and ``links`` (list of ``(href, anchor)``
    tuples or ``{"url","text"}`` dicts).  Output is one WARC
    ``metadata`` record per entry — pinned-mtime gzip member each when
    ``gzip_per_record`` (the Common Crawl layout) — whose payload is a
    compact, sorted-keys JSON envelope, so identical inputs give
    byte-identical segments.
    """
    out = []
    for e in entries:
        links: List[Dict[str, str]] = []
        for link in e.get("links") or []:
            if isinstance(link, dict):
                href, anchor = link.get("url", ""), link.get("text", "")
            else:
                href, anchor = link[0], link[1]
            # "A@/href" is the published WAT path for <a href> outlinks
            links.append({"path": "A@/href", "text": anchor, "url": href})
        html_meta: Dict[str, Any] = {"Links": links}
        if e.get("title") is not None:
            html_meta["Head"] = {"Title": e["title"]}
        envelope = {
            "Envelope": {
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {"HTML-Metadata": html_meta}
                },
                "WARC-Header-Metadata": {
                    "WARC-Target-URI": e["url"],
                    "WARC-Type": "response",
                },
            }
        }
        body = json.dumps(
            envelope, sort_keys=True, separators=(",", ":"), ensure_ascii=False
        ).encode("utf-8")
        out.append(
            _warc_record(
                "metadata", e["url"], e["ts"], "application/json", body, gzip_per_record
            )
        )
    return b"".join(out)


def records_to_meta(data: bytes) -> Iterator[Dict[str, Any]]:
    """WAT stream → metadata dicts
    ``(url, warc_ts, title, links, valid)``.

    Only ``metadata`` records are read (warcinfo/request records in a
    mixed stream are skipped).  A payload that is not valid JSON, or
    whose envelope lacks the published structure, yields
    ``valid=0`` with NULL title and no links — error-as-data, matching
    the CDX connector's contract (a corrupt record must not abort the
    segment).
    """
    for headers, payload in iter_warc_records(data):
        if headers.get("warc-type", "") != "metadata":
            continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers.get("warc-date", ""))
        title: Optional[str] = None
        links: List[Tuple[str, str]] = []
        valid = 1
        try:
            env = json.loads(payload.decode("utf-8"))["Envelope"]
            hm = env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
            head = hm.get("Head") or {}
            t = head.get("Title")
            title = t if isinstance(t, str) else None
            for link in hm.get("Links") or []:
                links.append((str(link.get("url", "")), str(link.get("text", ""))))
        except (ValueError, KeyError, TypeError, UnicodeDecodeError):
            valid = 0
        yield {
            "url": url,
            "warc_ts": ts,
            "title": title,
            "links": links,
            "valid": valid,
        }


def read_wat(spark, path: str, path_glob: str = "*.wat*"):
    """Directory of WAT segments → metadata DataFrame
    ``(url, warc_ts timestamp, title, links array<struct<url,text>>,
    n_links int, valid int)``.

    Same plan shape as ``read_warc``: ``binaryFile`` hands whole
    segments to tasks (one task per file — the Common Crawl sharding
    unit) and the decode is a single Arrow-batched ``mapInPandas``; no
    shuffle, and column pruning upstream of the decode drops the file
    bytes as soon as rows are emitted.
    """
    from ..engine.rows import map_rows

    files = spark.read.format("binaryFile").option("pathGlobFilter", path_glob).load(
        path
    )
    schema = (
        "url string, warc_ts timestamp, title string, "
        "links array<struct<url:string,text:string>>, n_links int, valid int"
    )
    return map_rows(
        files.select("content"),
        schema,
        lambda content: (
            (
                m["url"],
                m["warc_ts"],
                m["title"],
                [{"url": u, "text": t} for u, t in m["links"]],
                len(m["links"]),
                m["valid"],
            )
            for m in records_to_meta(bytes(content))
        ),
    )
