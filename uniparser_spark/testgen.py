"""Deterministic synthetic Common-Crawl-style page corpus + rules.

Generates the input table shape mandated by BASELINE.json input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``
— a PEP-demo-like site per host (one list page linking detail pages,
reference README.md:95-124) with Zipf-skewed host sizes so politeness /
skew handling is exercised.  Everything derives from (host index, page
index): no randomness, no external data.

Generation is Spark-native (``spark.range`` + ``mapInPandas``) so the
same code builds 40 rows for unit tests and 10^6+ rows for benchmarks
without a driver-side bottleneck.
"""

from __future__ import annotations

import bisect
from datetime import datetime, timezone
from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from . import config

BASE_EPOCH = 1580732985  # 2020-02-03 20:29:45 +08 (reference time fixture)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), False),
    ]
)

_LANGS = ("en", "zh", "de")
ZIPF_S = 1.2  # detail pages per host fall off as 1 / rank^ZIPF_S
PAGE_SIZE = 200  # detail links per list page


def host_name(i: int) -> str:
    return f"host{i:04d}.example.org"


def list_url(host: str, page: int = 0) -> str:
    """Paginated list pages: page 0 is the host root, further pages are
    /list-NNNN/ — real sites paginate, and a single mega-list page would
    serialize round-0 parsing on the hot host's one task."""
    return f"https://{host}/" if page == 0 else f"https://{host}/list-{page:04d}/"


def detail_url(host: str, k: int) -> str:
    return f"https://{host}/item-{k:06d}/"


def zipf_counts(n_hosts: int, n_details: int) -> List[int]:
    """Deterministic Zipf-ish split of n_details across hosts (host 0 is
    hot), every host getting at least one detail page."""
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(n_hosts)]
    total = sum(weights)
    counts = [max(1, int(n_details * w / total)) for w in weights]
    # fix rounding drift on the hot host
    counts[0] += n_details - sum(counts)
    if counts[0] < 1:
        counts[0] = 1
    return counts


def detail_html(host: str, k: int) -> str:
    """Deterministic ~15 KB detail page — sized like a typical real web
    page (nav, article paragraphs with inline markup, metadata table) so
    the benchmark's parse cost per page is representative of
    Common-Crawl HTML, not of 50-byte toy fixtures."""
    nav = "\n".join(
        f'<li class="nav-item"><a href="/section-{j}/">Section {j}</a></li>'
        for j in range(24)
    )
    paras = "\n".join(
        (
            '<p class="para" id="p{j}">Paragraph {j} of item {k} on {host}. '
            "Deterministic filler sentence number {j} with stable words "
            "<em>alpha</em> beta <strong>gamma</strong> delta epsilon zeta "
            "eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau "
            'for position {pos}. <a href="#p{j}">anchor {pos}</a> and more '
            "stable filler upsilon phi chi psi omega ending {j}.</p>"
        ).format(j=j, k=k, host=host, pos=k * 31 + j)
        for j in range(48)
    )
    meta_rows = "\n".join(
        f'<tr><th>key{j}</th><td class="v">value-{(k + j) % 97}</td></tr>'
        for j in range(20)
    )
    return (
        "<html><head><title>Item {k} of {host}</title></head>\n"
        "<body>\n"
        '<ul class="nav">\n{nav}\n</ul>\n'
        '<h1 class="page-title">Item {k} – synthetic page on {host}</h1>\n'
        '<p class="meta"><span class="ts">{ts}</span></p>\n'
        '<div class="article">\n{paras}\n</div>\n'
        '<table class="meta-table">\n{meta_rows}\n</table>\n'
        "</body></html>"
    ).format(k=k, host=host, ts=BASE_EPOCH + k, nav=nav, paras=paras, meta_rows=meta_rows)


def list_html(host: str, n_details: int, start: int = 0, end: Optional[int] = None) -> str:
    end = n_details if end is None else min(end, n_details)
    rows = "\n".join(
        f'<tr><td>{k}</td><td>meta</td><td><a class="pep" href="/item-{k:06d}/">Item {k}</a></td></tr>'
        for k in range(start, end)
    )
    return (
        f"<html><head><title>Index of {host}</title></head>\n"
        f"<body>\n<table>\n{rows}\n</table>\n</body></html>"
    )


def list_page_index(counts: List[int]) -> List[tuple]:
    """(host_idx, page_idx, start, end) for every paginated list page."""
    pages = []
    for hi, cnt in enumerate(counts):
        n_pages = max(1, -(-cnt // PAGE_SIZE))
        for p in range(n_pages):
            pages.append((hi, p, p * PAGE_SIZE, min((p + 1) * PAGE_SIZE, cnt)))
    return pages


def seed_urls(n_hosts: int, n_details: int) -> List[str]:
    """All list-page URLs — the crawl's seed list."""
    counts = zipf_counts(n_hosts, n_details)
    return [
        list_url(host_name(hi), p)
        for hi, p, _, _ in list_page_index(counts)
    ]


def build_storage(n_hosts: int, keep_first: Optional[int] = None) -> dict:
    """JSONRuleStorage dict: per host a list rule (__request__ chain css →
    re-absolutize → optional getitem, exactly the reference PEP rule shape,
    test_parsers.py:1269) and a detail rule extracting the title."""
    storage = {}
    for i in range(n_hosts):
        host = host_name(i)
        chain = [
            ["css", "td:nth-of-type(3) > a.pep", "@href"],
            ["re", "^/?", f"@https://{host}/"],
        ]
        if keep_first is not None:
            chain.append(["python", "getitem", f"[:{keep_first}]"])
        storage[host] = {
            "host": host,
            "crawler_rules": {
                "list": {
                    "name": "list",
                    "request_args": {"method": "get", "url": list_url(host)},
                    "parse_rules": [
                        {"name": "__request__", "chain_rules": chain, "child_rules": []}
                    ],
                    "regex": f"^https://{host}/(list-\\d+/)?$",
                },
                "detail": {
                    "name": "detail",
                    "request_args": {"method": "get", "url": detail_url(host, 0)},
                    "parse_rules": [
                        {
                            "name": "title",
                            "chain_rules": [
                                ["css", "h1.page-title", "$text"],
                                ["python", "getitem", "[0]"],
                            ],
                            "child_rules": [],
                        }
                    ],
                    "regex": f"^https://{host}/item-\\d+/$",
                },
            },
        }
    return storage


def generate_pages(
    spark: SparkSession,
    n_hosts: int = 4,
    n_details: int = 36,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Pages DataFrame: paginated list pages per host (``PAGE_SIZE``
    links each) + Zipf-distributed detail pages.  Global page index =
    [list pages in (host, page) order) then detail pages ordered by
    (host, k)."""
    counts = zipf_counts(n_hosts, n_details)
    offsets = [0]
    for c in counts:
        offsets.append(offsets[-1] + c)
    lp = list_page_index(counts)
    n_list = len(lp)
    total = n_list + offsets[-1]
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            recs = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
            for j in batch["id"].tolist():
                if j < n_list:
                    hi, p, start, end = lp[j]
                    host = host_name(hi)
                    url = list_url(host, p)
                    html = list_html(host, counts[hi], start, end)
                else:
                    d = j - n_list
                    hi = bisect.bisect_right(offsets, d) - 1
                    host = host_name(hi)
                    k = d - offsets[hi]
                    url = detail_url(host, k)
                    html = detail_html(host, k)
                recs["url"].append(url)
                recs["warc_ts"].append(
                    datetime.fromtimestamp(BASE_EPOCH + int(j), tz=timezone.utc)
                )
                recs["html"].append(html.encode("utf-8"))
                recs["text"].append(html)
                recs["lang"].append(_LANGS[int(j) % len(_LANGS)])
            yield pd.DataFrame(recs)

    return spark.range(0, total, 1, partitions).mapInPandas(gen, schema=PAGES_SCHEMA)


def storage_json(n_hosts: int, keep_first: Optional[int] = None) -> str:
    return config.json_dumps(build_storage(n_hosts, keep_first=keep_first))
