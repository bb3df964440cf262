"""RSS/Atom feed connector (sources/feed.py).

Reference scope: the reference has no discovery layer (seeds are
caller-supplied, crawler.py:156-189); feeds are part of the frontier
the north rule adds, next to sitemaps and CDX.
"""

from datetime import datetime, timezone

from uniparser_spark.sources.feed import (
    build_atom,
    build_rss,
    feed_entries,
    parse_feed,
    seeds_from_feed,
)

PUB = datetime(2026, 8, 18, 12, 30, 0, tzinfo=timezone.utc)


def test_rss_roundtrip_with_escaping():
    entries = [
        {"loc": "https://e.org/a?x=1&y=2", "title": "T & <b>", "pub": PUB,
         "guid": "urn:1"},
        {"loc": "https://e.org/b", "title": None, "pub": None, "guid": None},
    ]
    items = parse_feed(build_rss("c & d", entries))
    assert [i["loc"] for i in items] == ["https://e.org/a?x=1&y=2",
                                         "https://e.org/b"]
    assert items[0]["title"] == "T & <b>" and items[0]["guid"] == "urn:1"
    assert items[0]["pub"] == PUB and items[0]["fmt"] == "rss"
    assert items[1]["title"] is None and items[1]["pub"] is None


def test_atom_roundtrip():
    entries = [{"loc": 'https://e.org/q?a="x"', "title": "Atom <1>",
                "pub": PUB, "guid": "tag:1"}]
    items = parse_feed(build_atom("f", entries))
    assert items[0]["loc"] == 'https://e.org/q?a="x"'
    assert items[0]["pub"] == PUB and items[0]["fmt"] == "atom"


def test_parse_feed_rejects_non_feed():
    import pytest

    with pytest.raises(ValueError):
        parse_feed(b"<html><body>nope</body></html>")
    with pytest.raises(ValueError):
        parse_feed(b"<rss><channel><item>")  # malformed XML


def test_feed_entries_prefilter_and_errors(spark):
    rss = build_rss("c", [{"loc": "https://e.org/p1", "title": "t",
                           "pub": PUB, "guid": "g1"}])
    rows = [
        ("https://h.example/feed.xml", bytearray(rss)),
        ("https://h.example/rss", bytearray(b"<notxml")),       # error row
        ("https://h.example/page.html", bytearray(b"<html/>")),  # prefiltered
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = feed_entries(df).collect()
    kinds = {(r["feed_url"], r["kind"]) for r in out}
    assert ("https://h.example/feed.xml", "item") in kinds
    assert ("https://h.example/rss", "error") in kinds
    assert all(r["feed_url"] != "https://h.example/page.html" for r in out)

    seeds = seeds_from_feed(feed_entries(df)).collect()
    assert [(s["url"], s["priority"]) for s in seeds] == [
        ("https://e.org/p1", 0.8)
    ]


def test_feed_seeds_compose_into_engine(spark, tmp_path):
    """Feed discovery composes end-to-end: RSS advertising a list page
    -> feed_entries -> seeds_from_feed -> CrawlEngine.seed_df -> the
    page and its outlinks are crawled."""
    from uniparser_spark import testgen
    from uniparser_spark.crawl import CrawlEngine
    from uniparser_spark.urls import canonicalize_url

    pages = testgen.generate_pages(spark, n_hosts=2, n_details=6)
    storage_json = testgen.storage_json(2, keep_first=2)
    host0 = testgen.host_name(0)
    target = testgen.list_url(host0)

    rss = build_rss("news", [{"loc": target, "title": "front",
                              "pub": PUB, "guid": "g"}])
    feed_pages = spark.createDataFrame(
        [("https://h.example/feed.xml", bytearray(rss))],
        "url string, html binary",
    )
    seeds = seeds_from_feed(feed_entries(feed_pages))

    eng = CrawlEngine(spark, pages, storage_json, tmp_path / "state_feed")
    eng.seed_df(seeds)
    eng.run(max_rounds=10)
    seen = {r["url_canon"] for r in eng.seen().collect()}
    assert canonicalize_url(target) in seen
    assert canonicalize_url(testgen.detail_url(host0, 0)) in seen


try:
    from hypothesis import given, settings, strategies as st

    _xmlish = st.lists(
        st.one_of(
            st.sampled_from(
                ["<rss>", "</rss>", "<channel>", "<item>", "<link>",
                 "</link>", "<feed>", "<entry>", '<link href="x"/>',
                 "<updated>", "2026-01-01T00:00:00Z", "<pubDate>",
                 "Mon, 18 Aug 2026 12:00:00 +0000", "<", ">", "&", "]]>"]
            ),
            st.text(max_size=10),
        ),
        max_size=25,
    ).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(_xmlish)
    def test_fuzz_parse_feed_total(markup):
        """parse_feed is total over arbitrary input: a typed item list
        or ValueError — never any other exception (the Spark path
        quarantines ValueError as an error row)."""
        try:
            items = parse_feed(markup.encode("utf-8"))
        except ValueError:
            return
        for it in items:
            assert it["fmt"] in ("rss", "atom") and it["loc"]

except ImportError:  # pragma: no cover
    pass
