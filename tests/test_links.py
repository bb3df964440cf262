"""Anchor-text link extraction (crawl/links.py)."""

from uniparser_spark.crawl.links import link_edges, links_from_html


def test_links_from_html_resolution_and_flags(spark):
    html = (
        '<html><body>'
        '<a href="/rel">  Rel\n Link </a>'
        '<a href="sub/page">Child</a>'
        '<a href="https://other.net/x" rel="external nofollow">Out</a>'
        '<a href="//cdn.org/y">Proto</a>'
        '<a href="#frag">skip</a>'
        '<a href="javascript:void(0)">skip</a>'
        '<a>no href</a>'
        '<a href="/self"><b>bold</b> tail</a>'
        "</body></html>"
    )
    pages = spark.createDataFrame(
        [("https://a.org/dir/page", html)], "url string, html string"
    )
    rows = [r.asDict() for r in links_from_html(pages).orderBy("link_idx").collect()]
    assert [r["dst"] for r in rows] == [
        "https://a.org/rel",
        "https://a.org/dir/sub/page",
        "https://other.net/x",
        "https://cdn.org/y",
        "https://a.org/self",
    ]
    assert [r["anchor"] for r in rows] == [
        "Rel Link", "Child", "Out", "Proto", "bold tail"
    ]
    assert [r["link_idx"] for r in rows] == [0, 1, 2, 3, 4]
    assert [r["nofollow"] for r in rows] == [0, 0, 1, 0, 0]
    assert [r["internal"] for r in rows] == [1, 1, 0, 0, 1]
    assert all(r["src"] == "https://a.org/dir/page" for r in rows)


def test_links_binary_html_and_edges(spark):
    html = (
        '<a href="https://b.org/1">one</a>'
        '<a href="https://b.org/1">dup</a>'
        '<a href="https://A.org/p">self-case</a>'
        '<a href="https://c.org/n" rel="nofollow">nf</a>'
    ).encode("utf-8")
    pages = spark.createDataFrame(
        [("https://a.org/p", bytearray(html))], "url string, html binary"
    )
    links = links_from_html(pages)
    assert links.count() == 4
    edges = link_edges(links)
    # dup collapses, nofollow dropped, case-folded self-loop dropped
    assert edges.count() == 1
    with_nf = link_edges(links, follow_only=False)
    assert with_nf.count() == 2


def test_links_feed_pagerank(spark):
    """Closing the loop: pages -> link table -> pagerank runs."""
    from uniparser_spark.graph import pagerank

    rows = [
        ("https://a.org/", '<a href="/b">b</a><a href="/c">c</a>'),
        ("https://a.org/b", '<a href="/c">c</a>'),
        ("https://a.org/c", '<a href="/">home</a>'),
    ]
    links = links_from_html(
        spark.createDataFrame(rows, "url string, html string")
    )
    edges = link_edges(links)
    nodes = (
        links.selectExpr("xxhash64(lower(src)) AS node")
        .union(links.selectExpr("xxhash64(lower(dst)) AS node"))
        .distinct()
    )
    pr = {
        r["node"]: r["rank"]
        for r in pagerank(edges, nodes, n_nodes=3).collect()
    }
    assert len(pr) == 3 and abs(sum(pr.values()) - 1.0) < 1e-9


def test_anchor_text_index_topk(spark):
    from uniparser_spark.crawl.links import anchor_text_index

    rows = (
        [("s%d" % i, "https://t.org/a", "buy now", 0, 0, 0) for i in range(3)]
        + [("s%d" % i, "https://t.org/a", "cheap pills", 0, 0, 0) for i in range(2)]
        + [("x", "https://t.org/a", "rare", 0, 0, 0)]
        + [("y", "https://t.org/a", "spam anchor", 0, 1, 0)]  # nofollow excluded
        + [("z", "https://t.org/a", "", 0, 0, 0)]             # empty excluded
    )
    links = spark.createDataFrame(
        rows, "src string, dst string, anchor string, link_idx int, nofollow int, internal int"
    )
    [row] = anchor_text_index(links).collect()
    assert row["dst"] == "https://t.org/a"
    assert row["top_anchor_links"] == 5  # 3 + 2, 'rare' trimmed at k=2
    assert row["top_anchors"] == "01:buy now|02:cheap pills"
    # totals cover ALL follow in-links, not just the top-k anchors:
    # 3 'buy now' + 2 'cheap pills' + 1 'rare'; distinct srcs s0..s2, x
    assert row["in_links"] == 6
    assert row["n_src"] == 4  # s0, s1, s2, x (s0-s2 repeat across anchors)


def test_host_graph_rollup(spark):
    from uniparser_spark.crawl.links import host_graph

    links = spark.createDataFrame(
        [
            ("https://a.org/1", "https://b.org/x", "t", 0, 0, 0),
            ("https://a.org/2", "https://b.org/y", "t", 0, 1, 0),
            ("https://a.org/3", "https://a.org/4", "t", 0, 0, 1),
            ("HTTPS://A.org/5", "https://b.org/z", "t", 0, 0, 0),  # case folds
        ],
        "src string, dst string, anchor string, link_idx int, nofollow int, internal int",
    )
    got = {(r["src_host"], r["dst_host"]): r for r in host_graph(links).collect()}
    ab = got[("a.org", "b.org")]
    assert ab["n_links"] == 3 and ab["n_nofollow"] == 1 and ab["internal"] == 0
    aa = got[("a.org", "a.org")]
    assert aa["n_links"] == 1 and aa["internal"] == 1


def test_host_reciprocity_hand_case(spark):
    """Balanced exchange -> reciprocity 1; one-way -> 0; unbalanced ->
    2*min/(sum); internal edges ignored; min_links gate applies to
    either direction."""
    from uniparser_spark.crawl.links import host_graph, host_reciprocity

    def edge(s, d, i):
        return (f"https://{s}/p/{i}", f"https://{d}/x/{i}", "a", 0, 0, 0)

    rows = (
        [edge("a.org", "b.org", i) for i in range(3)]
        + [edge("b.org", "a.org", i) for i in range(3)]     # balanced
        + [edge("c.org", "d.org", i) for i in range(4)]     # one-way
        + [edge("e.org", "f.org", i) for i in range(4)]
        + [edge("f.org", "e.org", i) for i in range(2)]     # 4:2
        + [edge("g.org", "g.org", 0)]                       # internal
        + [edge("x.org", "y.org", 0)]                       # below gate
    )
    df = spark.createDataFrame(
        rows, "src string, dst string, anchor string, link_idx int, "
              "nofollow int, internal int",
    )
    out = {(r["host_a"], r["host_b"]): r
           for r in host_reciprocity(host_graph(df)).collect()}
    assert out[("a.org", "b.org")]["reciprocity"] == 1.0
    assert out[("a.org", "b.org")]["n_mutual"] == 3
    assert out[("c.org", "d.org")]["reciprocity"] == 0.0
    ef = out[("e.org", "f.org")]
    assert (ef["n_ab"], ef["n_ba"], ef["n_mutual"]) == (4, 2, 2)
    assert abs(ef["reciprocity"] - round(4 / 6, 4)) < 1e-9
    assert ("g.org", "g.org") not in out
    assert ("x.org", "y.org") not in out


def test_link_spam_signals_hand_case(spark):
    """A page selling links (mostly-external, host-concentrated, one
    repeated anchor) scores high; an internal-only page scores 0."""
    from uniparser_spark.crawl.links import link_spam_signals

    rows = [
        # page A: 3 external (2 to x.example under one anchor), 1 internal
        ("https://s.example/p1", "https://x.example/1", "Buy Now", 0, 1, 0),
        ("https://s.example/p1", "https://x.example/2", " buy now ", 1, 0, 0),
        ("https://s.example/p1", "https://y.example/1", "other", 2, 0, 0),
        ("https://s.example/p1", "https://s.example/p2", "home", 3, 0, 1),
        # page B: internal-only
        ("https://s.example/p2", "https://s.example/p1", "back", 0, 0, 1),
        ("https://s.example/p2", "https://s.example/p3", "next", 1, 0, 1),
    ]
    df = spark.createDataFrame(
        rows, "src string, dst string, anchor string, link_idx int, "
              "nofollow int, internal int",
    )
    out = {r["src"]: r.asDict() for r in link_spam_signals(df).collect()}
    a = out["https://s.example/p1"]
    assert a["n_out"] == 4
    assert a["frac_nofollow"] == 0.25
    assert a["frac_external"] == 0.75
    assert a["n_ext_hosts"] == 2
    assert a["ext_concentration"] == round((3 - 2) / 3, 6)
    # anchor normalization folds 'Buy Now' and ' buy now ' together
    assert a["top_anchor_share"] == 0.5
    assert a["farm_score"] == round(0.75 * 0.5, 6)
    b = out["https://s.example/p2"]
    assert b["n_external"] if "n_external" in b else True
    assert b["frac_external"] == 0.0
    assert b["n_ext_hosts"] == 0
    assert b["ext_concentration"] == 0.0
    assert b["farm_score"] == 0.0


def test_link_spam_signals_min_out_gate(spark):
    from uniparser_spark.crawl.links import link_spam_signals

    df = spark.createDataFrame(
        [("https://s.example/p1", "https://x.example/1", "a", 0, 0, 0)],
        "src string, dst string, anchor string, link_idx int, "
        "nofollow int, internal int",
    )
    assert link_spam_signals(df, min_out=2).count() == 0
