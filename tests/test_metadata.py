"""Page-metadata harvest (textops/metadata.py) unit + Spark tests."""

from uniparser_spark.textops.metadata import (
    harvest_metadata,
    harvest_page_metadata,
)

FULL = (
    '<html><head><title>  A   Title </title>'
    '<meta name="Description" content="first desc">'
    '<meta name="description" content="second desc">'
    '<meta content="OG T" property="og:title">'
    '<meta property="og:url" content="https://x.example/p">'
    '<link rel="canonical nofollow" href="/canon">'
    '<link rel="alternate" hreflang="en" href="/en">'
    '<link rel="alternate" hreflang="de" href="/de">'
    '<link rel="alternate" type="application/rss+xml" href="/feed">'
    '<script type="application/ld+json">'
    '{"@graph":[{"@type":"WebPage"},{"@type":["Article","NewsArticle"]}]}'
    "</script>"
    '<script type="application/ld+json">{broken</script>'
    '<meta property="article:published_time" content="2026-02-03T04:05:06Z">'
    "</head><body><title>late title</title></body></html>"
)


def test_full_page_first_wins_and_token_rel():
    row = harvest_page_metadata(FULL, base_url="https://h.example.com/a/b")
    (title, desc, og_t, og_u, canon, n_hre, types, n_bad, pub) = row
    assert title == "A Title"  # whitespace-normalized, first <title> wins
    assert desc == "first desc"  # case-insensitive name, first wins
    assert og_t == "OG T" and og_u == "https://x.example/p"
    assert canon == "https://h.example.com/canon"  # resolved, token-matched rel
    assert n_hre == 2  # the rss alternate has no hreflang
    assert types == "Article,NewsArticle,WebPage"  # @graph + list @type, sorted
    assert n_bad == 1
    assert pub == "2026-02-03T04:05:06Z"


def test_empty_page_all_null():
    row = harvest_page_metadata("<html><body><p>hi</p></body></html>")
    assert row == (None, None, None, None, None, 0, None, 0, None)


def test_canonical_absolute_href_unchanged_and_no_base():
    html = '<link rel="canonical" href="https://cdn.example.org/c/1">'
    assert harvest_page_metadata(html, "https://a.example/x")[4] == (
        "https://cdn.example.org/c/1"
    )
    # no base_url supplied: relative href passes through verbatim
    assert harvest_page_metadata('<link rel="canonical" href="/c/2">')[4] == "/c/2"


def test_jsonld_top_level_object_and_array():
    one = '<script type="application/ld+json">{"@type":"FAQPage"}</script>'
    arr = (
        '<script type="application/ld+json">'
        '[{"@type":"Recipe"},{"@type":"Recipe"},{"noType":1}]</script>'
    )
    assert harvest_page_metadata(one)[6] == "FAQPage"
    assert harvest_page_metadata(arr)[6] == "Recipe"  # deduped
    # non-ld script types are ignored entirely
    assert harvest_page_metadata('<script>{"@type":"X"}</script>')[6] is None


def test_spark_surface(spark):
    df = spark.createDataFrame(
        [(1, FULL, "https://h.example.com/a/b"), (2, "<p>bare</p>", None)],
        "doc_id long, html string, base_url string",
    )
    out = {
        r["doc_id"]: r
        for r in harvest_metadata(df).collect()
    }
    assert out[1]["canonical"] == "https://h.example.com/canon"
    assert out[1]["n_hreflang"] == 2 and out[1]["n_jsonld_bad"] == 1
    assert out[2]["title"] is None and out[2]["n_hreflang"] == 0


def test_harvest_hreflang_edges(spark):
    html = (
        '<link rel="alternate" hreflang="en" href="/en">'
        '<link rel="alternate" hreflang="de" href="https://b.ex/de">'
        '<link rel="alternate" href="/no-lang">'  # no hreflang: skipped
        '<link rel="stylesheet" hreflang="fr" href="/css">'  # wrong rel
    )
    df = spark.createDataFrame(
        [("https://a.ex/p/1", html)], "url string, html string"
    )
    from uniparser_spark.textops.metadata import harvest_hreflang

    rows = harvest_hreflang(df).collect()
    assert [(r["hreflang"], r["href"]) for r in rows] == [
        ("en", "https://a.ex/en"),
        ("de", "https://b.ex/de"),
    ]


def test_hreflang_audit_verdicts(spark):
    from uniparser_spark.textops.metadata import hreflang_audit

    edges = spark.createDataFrame(
        [
            # A: reciprocal pair incl. self links -> ok
            ("A", "en", "A"), ("A", "de", "B"),
            ("B", "de", "B"), ("B", "en", "A"),
            # C: links B but B never links back -> broken
            ("C", "en", "C"), ("C", "de", "B"),
            # D: reciprocal with A? no — D lists only itself, minus self
            ("D", "en", "D"),
        ],
        "url string, hreflang string, href string",
    )
    out = {r["url"]: r for r in hreflang_audit(edges).collect()}
    assert out["A"]["verdict"] == "ok" and out["A"]["n_reciprocal"] == 2
    assert out["B"]["verdict"] == "ok"
    assert out["C"]["verdict"] == "broken"
    assert out["C"]["n_reciprocal"] == 1  # the self edge
    assert out["D"]["verdict"] == "ok" and out["D"]["has_self"]


def test_hreflang_audit_missing_self(spark):
    from uniparser_spark.textops.metadata import hreflang_audit

    edges = spark.createDataFrame(
        [("A", "de", "B"), ("B", "en", "A"), ("B", "de", "B")],
        "url string, hreflang string, href string",
    )
    out = {r["url"]: r for r in hreflang_audit(edges).collect()}
    assert out["A"]["verdict"] == "missing_self"
    assert not out["A"]["has_self"]
    assert out["B"]["verdict"] == "ok"


def test_harvest_microdata(spark):
    from uniparser_spark.textops.metadata import harvest_microdata

    nested = (
        '<div itemscope itemtype="https://schema.org/Product">'
        '<span itemprop="name">n</span>'
        '<div itemprop="offers" itemscope itemtype="https://schema.org/Offer">'
        '<span itemprop="price">1</span></div></div>'
    )
    df = spark.createDataFrame(
        [
            (1, nested),
            (2, "<div itemscope><b itemprop='x'>y</b></div>"),  # untyped scope
            (3, "<p>no microdata</p>"),
        ],
        "doc_id long, html string",
    )
    out = {r["doc_id"]: r for r in harvest_microdata(df).collect()}
    assert out[1]["n_scopes"] == 2 and out[1]["n_props"] == 3
    assert (
        out[1]["itemtypes"]
        == "https://schema.org/Offer,https://schema.org/Product"
    )
    assert out[2]["n_scopes"] == 1 and out[2]["itemtypes"] is None
    assert out[3]["n_scopes"] == 0 and out[3]["n_props"] == 0


# -------------------------------------------------------- bitext_candidates
def test_bitext_candidates_reciprocity_langs_and_score(spark):
    from uniparser_spark.textops.metadata import bitext_candidates

    edges = spark.createDataFrame(
        [
            # a <-> b reciprocal en/de pair
            ("http://s/a", "de", "http://s/b"),
            ("http://s/b", "en", "http://s/a"),
            # a -> c unreciprocated: must not pair
            ("http://s/a", "fr", "http://s/c"),
            # d <-> e reciprocal but same primary subtag: filtered
            ("http://s/d", "en-GB", "http://s/e"),
            ("http://s/e", "en-US", "http://s/d"),
        ],
        "url string, hreflang string, href string",
    )
    feats = spark.createDataFrame(
        [
            ("http://s/a", 100, "fpX"),
            ("http://s/b", 80, "fpX"),
            ("http://s/c", 10, "fpY"),
            ("http://s/d", 50, "fpZ"),
            ("http://s/e", 50, "fpZ"),
        ],
        "url string, n_tokens long, template_fp string",
    )
    got = bitext_candidates(edges, feats).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["url_a"], r["url_b"]) == ("http://s/a", "http://s/b")
    # lang of each page comes from the COUNTERPART's edge
    assert (r["lang_a"], r["lang_b"]) == ("en", "de")
    assert r["len_ratio"] == 0.8
    assert r["same_template"] == 1
    assert r["align_score"] == 0.9
    # regional variants surface when cross_lang_only is off
    both = bitext_candidates(edges, feats, cross_lang_only=False).collect()
    assert len(both) == 2
    dd = {(r["url_a"], r["url_b"]): r for r in both}
    assert dd[("http://s/d", "http://s/e")]["align_score"] == 1.0
