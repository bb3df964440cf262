"""Spark extraction engine over the synthetic page corpus."""

import json

import pytest

from uniparser_spark import testgen
from uniparser_spark.engine import extract_pages


def test_extract_pages_end_to_end(spark):
    pages = testgen.generate_pages(spark, n_hosts=3, n_details=12)
    storage = testgen.storage_json(3, keep_first=3)
    out = extract_pages(pages, storage).cache()
    rows = {r["url"]: r for r in out.collect()}

    # every page matched a rule, no errors
    assert len(rows) == pages.count()
    assert all(r["error"] is None for r in rows.values())

    # list pages emit absolutized __request__ URLs, first 3 in list order
    host0 = testgen.host_name(0)
    lst = rows[testgen.list_url(host0)]
    assert lst["rule_name"] == "list"
    assert list(lst["requests"]) == [testgen.detail_url(host0, k) for k in range(3)]
    parsed = json.loads(lst["result"])
    assert parsed["list"]["__request__"] == [testgen.detail_url(host0, k) for k in range(3)]

    # detail pages extract the title exactly
    det = rows[testgen.detail_url(host0, 5)]
    assert det["rule_name"] == "detail"
    assert det["requests"] is None
    assert json.loads(det["result"]) == {
        "detail": {"title": f"Item 5 – synthetic page on {host0}"}
    }


def test_extract_binary_decode_path(spark):
    # pages with text=None force the html binary decode path
    pages = testgen.generate_pages(spark, n_hosts=2, n_details=4).drop("text").selectExpr(
        "url", "CAST(NULL AS STRING) AS text", "html"
    )
    out = extract_pages(pages, testgen.storage_json(2), html_col="html")
    rows = out.collect()
    assert all(r["error"] is None for r in rows)
    assert any(r["rule_name"] == "detail" for r in rows)


def test_extract_passthrough_exact_and_typed(spark):
    """Passthrough columns come back one per page, exact and typed:
    longs at both ends of the 64-bit range, a NULL int, and the values
    of a page whose html fails to decode."""
    host = testgen.host_name(0)
    ok_url, bad_url = testgen.detail_url(host, 0), testgen.detail_url(host, 1)
    texts = {
        r["url"]: r["text"]
        for r in testgen.generate_pages(spark, n_hosts=1, n_details=2).collect()
    }
    pages = spark.createDataFrame(
        [
            (ok_url, texts[ok_url], None, 2**63 - 1, None),
            (bad_url, None, bytearray(b"\xff\xfe"), -(2**63), 7),
        ],
        "url string, text string, html binary, big long, small int",
    )
    out = extract_pages(
        pages, testgen.storage_json(1), html_col="html", passthrough=("big", "small")
    )
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields[-2:]] == [
        ("big", "bigint"),
        ("small", "int"),
    ]
    rows = {r["url"]: r for r in out.collect()}
    assert len(rows) == 2
    ok, bad = rows[ok_url], rows[bad_url]
    assert ok["error"] is None and ok["rule_name"] == "detail"
    assert (ok["big"], ok["small"]) == (2**63 - 1, None)
    assert bad["error"].startswith("DecodeError") and bad["rule_name"] is None
    assert (bad["big"], bad["small"]) == (-(2**63), 7)


def test_extract_rule_not_found(spark):
    pages = testgen.generate_pages(spark, n_hosts=1, n_details=2)
    out = extract_pages(pages, testgen.storage_json(0))  # empty storage
    rows = out.collect()
    assert all(r["error"].startswith("RuleNotFoundError") for r in rows)
    assert all(r["result"] is None for r in rows)


def test_extraction_health_rollup(spark):
    """Health aggregation over a hand-built results frame: rates,
    dominant error kind (struct-max tie-break), verdict thresholds,
    and the '<none>' rule bucket for unmatched URLs."""
    from uniparser_spark.engine.health import extraction_health

    rows = [
        # hostA/r1: 1 error in 10 -> degraded (rate 0.1)
        *[(f"https://a.org/{i}", "r1", None) for i in range(9)],
        ("https://a.org/9", "r1", "IndexError: boom"),
        # hostB/r2: all broken, two kinds, tie 2-2 -> larger kind wins
        ("https://b.org/1", "r2", "AttrError: x"),
        ("https://b.org/2", "r2", "AttrError: y"),
        ("https://b.org/3", "r2", "ZeroDivisionError: z"),
        ("https://b.org/4", "r2", "ZeroDivisionError: w"),
        # no rule matched
        ("https://c.org/1", None, "RuleNotFoundError: nope"),
    ]
    df = spark.createDataFrame(rows, "url string, rule_name string, error string")
    out = {(r["host"], r["rule_name"]): r
           for r in extraction_health(df).collect()}
    a = out[("a.org", "r1")]
    assert (a["n_pages"], a["n_errors"], a["err_rate"]) == (10, 1, 0.1)
    assert a["verdict"] == "degraded" and a["top_error"] == "IndexError"
    b = out[("b.org", "r2")]
    assert b["verdict"] == "broken"
    assert b["top_error"] == "ZeroDivisionError"  # tie -> larger kind
    c = out[("c.org", "<none>")]
    assert c["err_rate"] == 1.0 and c["top_error"] == "RuleNotFoundError"


def _cut_inside(html: str, marker: str, keep: int) -> str:
    """``html`` cut ``keep`` characters into the first ``marker``."""
    return html[: html.index(marker) + keep]


_HOST0 = testgen.host_name(0)
_DETAIL = testgen.detail_url(_HOST0, 0)
# case -> (url, text, html): malformed bodies a crawl can fetch
MALFORMED = {
    "truncated-mid-tag": (_DETAIL, _cut_inside(testgen.detail_html(_HOST0, 0), "<h1 class", 7), None),
    "truncated-mid-attribute": (
        testgen.list_url(_HOST0),
        _cut_inside(testgen.list_html(_HOST0, 3), 'href="/item-000001', 14),
        None,
    ),
    "invalid-utf8-html": (_DETAIL, None, b'<h1 class="page-title">\xff\xfe\xc3\x28</h1>'),
    "nul-bytes": (_DETAIL, '<h1 class="page-\x00title">a\x00b</h1>\x00<p>\x00', None),
    "1mb-attribute": (
        _DETAIL,
        '<div data-x="' + "a" * (1 << 20) + '"><h1 class="page-title">t</h1></div>',
        None,
    ),
    "10k-unclosed-nested-tags": (_DETAIL, "<div>" * 10_000 + '<h1 class="page-title">deep', None),
}


@pytest.mark.parametrize("case", list(MALFORMED))
def test_extract_malformed_input_is_data(spark, case):
    """Malformed input comes out as one row carrying an error or a valid
    result, never as a task failure."""
    url, text, html = MALFORMED[case]
    pages = spark.createDataFrame(
        [(url, text, bytearray(html) if html is not None else None)],
        "url string, text string, html binary",
    )
    [row] = extract_pages(pages, testgen.storage_json(1), html_col="html").collect()
    assert row["url"] == url
    if row["error"] is None:
        assert isinstance(json.loads(row["result"]), dict)
    else:
        assert row["result"] is None
