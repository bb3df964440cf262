"""WARC (ISO 28500) source connector — Common Crawl's native format.

Common Crawl publishes the web corpus as ``.warc.gz`` files with one
gzip member per record; the reference engine only ever sees a page
AFTER someone fetched it (its input-object flexibility starts at
text/markup, reference parsers.py:93-105).  At the north rule's scale
the pages table is *built from* WARC segments, so the engine carries
its own connector:

- :func:`iter_warc_records` — stdlib-only incremental parser for plain
  or (multi-member) gzip WARC streams; yields (headers, payload).
- :func:`read_warc` — ``spark.read.format("binaryFile")`` over a
  directory of segments + ONE Arrow-batched ``mapInPandas`` decode per
  file → the canonical pages schema ``(url, warc_ts, html binary,
  text, lang)``.  The file is the parallelism unit — exactly how
  Common Crawl segments shard on a cluster (a 100 TB crawl is ~64k
  segments of ~1 GB; 1000 executors stream them independently, no
  shuffle anywhere).
- :func:`build_warc` — deterministic writer (gzip member per record)
  so tests and the oracle row can round-trip known bytes.

HTTP response payloads are split at the header/body boundary; ``text``
is decoded with the Content-Type charset (fallback utf-8/replace) and
``lang`` comes from the Content-Language header when present.
"""

from __future__ import annotations

import gzip
import io
import re
from datetime import datetime, timezone
from typing import Any, Dict, Iterable, Iterator, List, Optional, Sequence, Tuple

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"
_CHARSET = re.compile(r"charset=['\"]?([\w.-]+)", re.I)


def _parse_headers(block: bytes) -> Dict[str, str]:
    headers: Dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.decode("latin-1").strip().lower()] = v.decode("latin-1").strip()
    return headers


def iter_warc_records(data: bytes) -> Iterator[Tuple[Dict[str, str], bytes]]:
    """Yield ``(warc_headers, payload)`` for each record in a WARC
    stream (plain or gzip; Python's gzip handles the one-member-per-
    record concatenation transparently)."""
    if data[:2] == _GZIP_MAGIC:
        data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(
                f"malformed WARC stream at byte {pos}: expected record header, "
                f"got {data[pos:pos + 16]!r}"
            )
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError(f"unterminated WARC header block at byte {pos}")
        headers = _parse_headers(data[pos:head_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"WARC record at byte {pos} lacks a valid Content-Length")
        body_start = head_end + 4
        payload = data[body_start:body_start + length]
        if len(payload) != length:
            raise ValueError(
                f"truncated WARC record at byte {pos}: "
                f"Content-Length {length}, {len(payload)} bytes left"
            )
        yield headers, payload
        pos = body_start + length


def split_http_payload(payload: bytes) -> Tuple[Dict[str, str], bytes]:
    """Split an HTTP response payload into (headers, body).  Payloads
    that don't start with an HTTP status line pass through unchanged
    (resource records / raw captures)."""
    if not payload.startswith(b"HTTP/"):
        return {}, payload
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0:
        return {}, payload
    return _parse_headers(payload[:sep]), payload[sep + 4:]


def _decode_body(body: bytes, http_headers: Dict[str, str]) -> str:
    charset = "utf-8"
    m = _CHARSET.search(http_headers.get("content-type", ""))
    if m:
        charset = m.group(1)
    try:
        return body.decode(charset, errors="replace")
    except LookupError:  # unknown charset label in the wild
        return body.decode("utf-8", errors="replace")


def _parse_warc_date(value: str) -> Optional[datetime]:
    try:
        return datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        return None


def records_to_pages(data: bytes) -> Iterator[Dict[str, Any]]:
    """WARC stream → page dicts on the canonical schema.  Pages come
    from ``response``/``resource`` records (raw crawls) and
    ``conversion`` records (Common Crawl WET extracted-text segments —
    plain-text payload, no HTTP envelope; ``split_http_payload`` passes
    it through untouched so ``text`` is the extracted text and ``html``
    its utf-8 bytes).  request/metadata/warcinfo records are skipped
    (they describe the crawl, not the web)."""
    for headers, payload in iter_warc_records(data):
        rtype = headers.get("warc-type", "")
        if rtype not in ("response", "resource", "conversion"):
            continue
        http_headers, body = split_http_payload(payload)
        yield {
            "url": headers.get("warc-target-uri", ""),
            "warc_ts": _parse_warc_date(headers.get("warc-date", "")),
            "html": body,
            "text": _decode_body(body, http_headers),
            "lang": http_headers.get("content-language") or None,
        }


def records_index(data: bytes) -> Iterator[Dict[str, Any]]:
    """WARC stream → record-level index rows (the CDX-maker's view).

    Unlike :func:`records_to_pages` this keeps ``revisit`` records —
    Common Crawl's identical-payload-digest markers for re-fetches whose
    content matched an earlier capture.  Yields
    ``(url, warc_ts, warc_type, digest, n_bytes)`` per content-bearing
    record; ``digest`` comes from the WARC-Payload-Digest header when
    present, else is computed as ``md5:<hex>`` over the payload body
    (the repo's portable hash family — real CC uses sha1:B32, which the
    header path passes through verbatim).  A revisit with no digest
    header yields NULL digest (resolution marks it an orphan)."""
    import hashlib

    for headers, payload in iter_warc_records(data):
        rtype = headers.get("warc-type", "")
        if rtype not in ("response", "resource", "conversion", "revisit"):
            continue
        digest = headers.get("warc-payload-digest")
        if digest is None and rtype != "revisit":
            body = split_http_payload(payload)[1]
            digest = "md5:" + hashlib.md5(body).hexdigest()
        yield {
            "url": headers.get("warc-target-uri", ""),
            "warc_ts": _parse_warc_date(headers.get("warc-date", "")),
            "warc_type": rtype,
            "digest": digest,
            "n_bytes": len(payload),
        }


def revisit_resolution(records) -> "Any":
    """Digest-level dedup over a WARC record index: one verdict per
    record.

    Input: DataFrame ``(url, epoch long, warc_type, digest)`` (extra
    columns pass through untouched is NOT promised — output is the four
    plus verdict/original_url).  Per digest the canonical copy is the
    earliest non-revisit capture (min epoch, then min url — total
    order, engine-independent).  Verdicts:

    - ``original`` — the canonical capture of its digest;
    - ``duplicate`` — a later non-revisit capture of the same payload
      (same-content re-fetch stored in full: the bytes dedup target);
    - ``revisit_resolved`` — a revisit record whose digest matches a
      stored capture (``original_url`` names it);
    - ``revisit_orphan`` — a revisit whose digest matches nothing in
      this index (cross-segment reference or missing header).

    Scale shape: two narrow groupBys on the digest key and one left
    join — payload bytes never enter the plan.  At Common-Crawl scale
    this is the pass that turns ~25% revisit/duplicate records into
    storage and recrawl savings."""
    from pyspark.sql import functions as F

    resp = records.filter(F.col("warc_type") != "revisit")
    earliest = resp.groupBy("digest").agg(F.min("epoch").alias("_me"))
    canon = (
        resp.join(earliest, "digest")
        .filter(F.col("epoch") == F.col("_me"))
        .groupBy("digest")
        .agg(F.min("url").alias("_curl"), F.min("epoch").alias("_cep"))
    )
    out = records.join(canon, "digest", "left")
    verdict = (
        F.when(
            (F.col("warc_type") != "revisit")
            & (F.col("url") == F.col("_curl"))
            & (F.col("epoch") == F.col("_cep")),
            F.lit("original"),
        )
        .when(F.col("warc_type") != "revisit", F.lit("duplicate"))
        .when(F.col("_curl").isNotNull(), F.lit("revisit_resolved"))
        .otherwise(F.lit("revisit_orphan"))
    )
    return out.select(
        "url",
        "epoch",
        "warc_type",
        "digest",
        verdict.alias("verdict"),
        F.col("_curl").alias("original_url"),
    )


def read_warc(spark, path: str, path_glob: str = "*.warc*"):
    """Directory of WARC segments → pages DataFrame.

    ``binaryFile`` distributes whole segments (one task per file — the
    Common-Crawl sharding unit); the decode is a single Arrow-batched
    mapInPandas with no shuffle.  Column pruning still applies above
    this source; filters belong downstream of the decode.
    """
    from pyspark.sql.types import StructField, StructType

    from ..engine.rows import map_rows
    from ..testgen import PAGES_SCHEMA

    # real-world WARC headers are optional (Content-Language, WARC-Date
    # may be absent) — the decoded table is PAGES_SCHEMA shape but nullable
    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in PAGES_SCHEMA.fields]
    )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .load(path)
        .select("content")
    )
    return map_rows(
        files,
        schema,
        lambda blob: (
            (p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
            for p in records_to_pages(bytes(blob))
        ),
    )


def _warc_record(
    warc_type: str,
    url: str,
    ts: datetime,
    content_type: str,
    payload: bytes,
    gzip_member: bool,
    extra_headers: Sequence[bytes] = (),
) -> bytes:
    """One WARC/1.0 record: header block (type, target URI, date, any
    ``extra_headers``, content type, length), payload, closing CRLF
    pair — a gzip member when ``gzip_member``."""
    head = _CRLF.join(
        [
            b"WARC/1.0",
            f"WARC-Type: {warc_type}".encode(),
            f"WARC-Target-URI: {url}".encode(),
            f"WARC-Date: {ts.astimezone(timezone.utc):%Y-%m-%dT%H:%M:%SZ}".encode(),
            *extra_headers,
            f"Content-Type: {content_type}".encode(),
            f"Content-Length: {len(payload)}".encode(),
        ]
    )
    record = head + _CRLF + _CRLF + payload + _CRLF + _CRLF
    if not gzip_member:
        return record
    # mtime pinned for byte-determinism
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def build_warc(
    records: Iterable[Tuple[str, datetime, bytes]],
    gzip_per_record: bool = True,
    content_type: str = "text/html; charset=utf-8",
    content_language: Optional[str] = None,
) -> bytes:
    """Deterministic WARC writer: ``(url, ts, body)`` → response
    records with an HTTP/1.1 payload, one gzip member each (the
    Common-Crawl layout) or a plain concatenated stream."""
    out = []
    for url, ts, body in records:
        http_lines = [
            b"HTTP/1.1 200 OK",
            f"Content-Type: {content_type}".encode(),
        ]
        if content_language:
            http_lines.append(f"Content-Language: {content_language}".encode())
        http_lines.append(f"Content-Length: {len(body)}".encode())
        http = _CRLF.join(http_lines) + _CRLF + _CRLF + body
        out.append(
            _warc_record(
                "response", url, ts, "application/http; msgtype=response",
                http, gzip_per_record,
            )
        )
    return b"".join(out)


def build_wet(records: Iterable[Tuple[str, datetime, str]]) -> bytes:
    """Deterministic WET writer (Common Crawl's extracted-text sibling
    of ``build_warc``): ``(url, ts, text)`` → ``conversion`` records
    with a plain-text payload (no HTTP envelope), one pinned-mtime gzip
    member each."""
    return b"".join(
        _warc_record(
            "conversion", url, ts, "text/plain", text.encode("utf-8"), True
        )
        for url, ts, text in records
    )


def build_warc_revisits(
    records: Iterable[Tuple[str, datetime, Optional[str]]],
) -> bytes:
    """Deterministic revisit-record writer: ``(url, ts, digest)`` →
    WARC 1.0 ``revisit`` records on the identical-payload-digest
    profile — response headers only, no body (the whole point of a
    revisit is NOT storing the payload again).  ``digest=None`` omits
    the WARC-Payload-Digest header (the orphan path)."""
    http = _CRLF.join([b"HTTP/1.1 200 OK", b"Content-Length: 0"]) + _CRLF + _CRLF
    out = []
    for url, ts, digest in records:
        extra = [
            b"WARC-Profile: http://netpreserve.org/warc/1.0/revisit/"
            b"identical-payload-digest",
        ]
        if digest is not None:
            extra.append(f"WARC-Payload-Digest: {digest}".encode())
        out.append(
            _warc_record(
                "revisit", url, ts, "application/http; msgtype=response",
                http, True, extra,
            )
        )
    return b"".join(out)


def write_warc(pages, out_dir: str, lang_col: Optional[str] = "lang"):
    """Distributed WARC SINK: pages DataFrame → one ``.warc.gz`` segment
    per partition under ``out_dir``; returns the segment manifest as a
    DataFrame ``(segment, n_records, n_bytes)`` (an action on it
    performs the write — the same lazy-sink contract as
    ``DataFrame.write``).

    The partition is the segment (the inverse of :func:`read_warc`,
    where the segment is the parallelism unit), so a 1000-executor job
    streams 1000 segments concurrently with no shuffle and no driver
    involvement.  Each task writes ``part-<pid>-<uuid>.warc.gz.tmp``
    and renames it into place — rename-commit, the simple half of a
    Hadoop committer; production would commit segments to an Iceberg
    table (add_files) so a failed job leaves no visible partials.
    Bytes are deterministic given partition contents (pinned gzip
    mtime, fixed header layout): re-running a lost task rewrites an
    identical segment.

    Round-trip contract: ``read_warc(out_dir)`` returns the same
    ``(url, warc_ts, html, text, lang)`` rows (oracle-gated by the
    ``warc_roundtrip`` suite query).  ``lang_col`` rides in the HTTP
    Content-Language header; None writes no header and reads back
    NULL."""
    import os
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    cols = [
        F.col("url"),
        F.col("warc_ts").alias("ts"),
        F.col("html").alias("body"),
    ]
    cols.append(
        F.col(lang_col).alias("lang")
        if lang_col
        else F.lit(None).cast("string").alias("lang")
    )
    proj = pages.select(*cols)

    def sink(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        by_lang: Dict[Optional[str], List[Tuple[str, datetime, bytes]]] = {}
        order: List[Optional[str]] = []
        for batch in batches:
            for url, ts, body, lang in zip(
                batch["url"], batch["ts"], batch["body"], batch["lang"]
            ):
                if isinstance(body, str):
                    body = body.encode("utf-8")
                elif isinstance(body, (bytearray, memoryview)):
                    body = bytes(body)
                lang = lang if isinstance(lang, str) else None
                if lang not in by_lang:
                    by_lang[lang] = []
                    order.append(lang)
                dt = ts.to_pydatetime()
                if dt.tzinfo is None:  # Arrow hands back naive UTC
                    dt = dt.replace(tzinfo=timezone.utc)
                by_lang[lang].append((url, dt, body))
        if not order:
            yield pd.DataFrame(
                {"segment": [], "n_records": [], "n_bytes": []}
            ).astype({"segment": str, "n_records": "int64", "n_bytes": "int64"})
            return
        # one segment per partition: records grouped by language run
        # (Content-Language is per-HTTP-response, passed per group)
        blob = b"".join(
            build_warc(by_lang[lang], content_language=lang) for lang in order
        )
        n = sum(len(v) for v in by_lang.values())
        name = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.warc.gz"
        tmp = os.path.join(out_dir, name + ".tmp")
        with open(tmp, "wb") as f:
            f.write(blob)
        os.rename(tmp, os.path.join(out_dir, name))
        yield pd.DataFrame(
            {"segment": [name], "n_records": [n], "n_bytes": [len(blob)]}
        )

    return proj.mapInPandas(
        sink, schema="segment string, n_records long, n_bytes long"
    )
