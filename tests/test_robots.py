"""robots.txt cache: parsing, disallow filtering, crawl-delay budgets,
and end-to-end integration with the crawl engine."""

from uniparser_spark import testgen
from uniparser_spark.crawl import CrawlEngine
from uniparser_spark.frontier.robots import (
    apply_robots,
    budgets_from_robots,
    parse_robots,
    robots_table,
)
from uniparser_spark.frontier.seen import add_url_keys

ROBOTS_TXT = """\
# comment line
User-agent: specialbot
Disallow: /secret/

User-agent: *
Disallow: /private/
Disallow: /tmp
Allow: /private/ok/
Crawl-delay: 2.5
"""


def test_parse_robots_groups():
    delay, dis, allow = parse_robots(ROBOTS_TXT)
    assert delay == 2.5
    assert dis == ["/private/", "/tmp"]
    assert allow == ["/private/ok/"]
    delay_s, dis_s, _ = parse_robots(ROBOTS_TXT, user_agent="specialbot")
    assert delay_s is None and dis_s == ["/secret/"]
    assert parse_robots("") == (None, [], [])


def test_robots_table_and_filters(spark):
    pages = spark.createDataFrame(
        [
            ("https://a.example.org/robots.txt", ROBOTS_TXT),
            ("https://a.example.org/private/x", "body"),
            ("https://b.example.org/index.html", "body"),
        ],
        "url string, text string",
    )
    robots = robots_table(pages)
    rows = {r["host"]: r for r in robots.collect()}
    assert rows["a.example.org"]["crawl_delay"] == 2.5

    cand = add_url_keys(
        spark.createDataFrame(
            [
                ("https://a.example.org/private/x",),
                ("https://a.example.org/private/ok/y",),  # allow outranks
                ("https://a.example.org/tmpfile",),       # prefix match, no slash
                ("https://a.example.org/public/z",),
                ("https://b.example.org/anything",),      # host without robots
            ],
            "url string",
        )
    )
    kept = {r["url"] for r in apply_robots(cand, robots).collect()}
    assert kept == {
        "https://a.example.org/private/ok/y",
        "https://a.example.org/public/z",
        "https://b.example.org/anything",
    }

    budgets = {r["host"]: r["budget"] for r in budgets_from_robots(robots, 60).collect()}
    assert budgets["a.example.org"] == 24  # 60 / 2.5


def test_crawl_respects_robots(spark, tmp_path):
    pages = testgen.generate_pages(spark, n_hosts=2, n_details=12).cache()
    host0 = testgen.host_name(0)
    robots_pages = spark.createDataFrame(
        [
            (
                f"https://{host0}/robots.txt",
                "User-agent: *\nDisallow: /item-000000",
            )
        ],
        "url string, text string",
    )
    robots = robots_table(robots_pages)
    eng = CrawlEngine(
        spark,
        pages,
        testgen.storage_json(2),
        tmp_path / "state_robots",
        robots=robots,
    )
    eng.seed([testgen.list_url(testgen.host_name(i)) for i in range(2)])
    eng.run(max_rounds=10)
    crawled = {r["url"] for r in eng.records().collect()}
    blocked = {u for u in crawled if u.startswith(f"https://{host0}/item-000000")}
    assert not blocked, blocked
    # other host0 items and all of host1 still crawled
    assert any(u.startswith(f"https://{host0}/item-000001") for u in crawled)
    assert any(testgen.host_name(1) in u for u in crawled)


def test_parse_robots_consecutive_user_agents():
    # RFC 9309: consecutive User-agent lines form ONE group — the rules
    # that follow apply to every agent named above them.
    txt = "User-agent: a\nUser-agent: *\nDisallow: /x\nCrawl-delay: 3"
    for ua in ("a", "*", "unlisted-bot"):
        delay, dis, allow = parse_robots(txt, ua)
        assert dis == ["/x"], (ua, dis)
        assert delay == 3.0
    # a rule line ends the UA run: the next UA starts a fresh group
    txt2 = "User-agent: a\nDisallow: /a-only\nUser-agent: b\nDisallow: /b-only"
    assert parse_robots(txt2, "a")[1] == ["/a-only"]
    assert parse_robots(txt2, "b")[1] == ["/b-only"]


def test_apply_robots_wildcards_and_anchor(spark):
    """RFC 9309 §2.2.3: '*' spans any characters, '$' anchors the end;
    longest matching RULE (raw length) still decides allow-vs-disallow."""
    from uniparser_spark.frontier.robots import apply_robots

    cands = spark.createDataFrame(
        [
            ("w.org", "https://w.org/files/secret.pdf"),   # *.pdf$ -> blocked
            ("w.org", "https://w.org/files/secret.pdfx"),  # not at end -> passes
            ("w.org", "https://w.org/a/1/b"),              # /a/*/b -> blocked
            ("w.org", "https://w.org/a/b"),                # '*' needs a middle? no: matches empty too
            ("w.org", "https://w.org/cgi/keep/x"),         # allow longer -> passes
            ("w.org", "https://w.org/cgi/other"),          # disallowed
            ("w.org", "https://w.org/plain"),              # untouched
        ],
        "host string, url_canon string",
    )
    robots = spark.createDataFrame(
        [("w.org", None, ["/*.pdf$", "/a/*/b", "/cgi/"], ["/cgi/keep/"])],
        "host string, crawl_delay double, disallow array<string>, allow array<string>",
    )
    got = {r["url_canon"] for r in apply_robots(cands, robots).collect()}
    # note /a/b passes: '/a/*/b' is '/a/' + anything + '/b', and /a/b
    # has no middle '/b' segment ('*' may be empty, but the '/b' after
    # it must still be present)
    assert got == {
        "https://w.org/files/secret.pdfx",
        "https://w.org/a/b",
        "https://w.org/cgi/keep/x",
        "https://w.org/plain",
    }


# ------------------------------------------------- page-level directives
def test_page_directives_meta_header_union(spark):
    from uniparser_spark.frontier.robots import page_directives

    pages = spark.createDataFrame(
        [
            ("u1", '<head><meta name="robots" content="noindex"></head>', None),
            ("u2", '<head><meta content="NOFOLLOW, noarchive" name="ROBOTS"></head>', None),
            ("u3", '<head><meta name="robots" content="none"></head>', None),
            ("u4", "<body>plain</body>", "noindex, noarchive"),
            ("u5", '<head><meta name="description" content="nofollow"></head>', None),
            # meta + header union (most-restrictive-wins composition)
            ("u6", '<head><meta name="robots" content="nofollow"></head>', "noindex"),
        ],
        "url string, html string, xrt string",
    )
    got = {
        r["url"]: (r["noindex"], r["nofollow"], r["noarchive"])
        for r in page_directives(pages, header_col="xrt").collect()
    }
    assert got["u1"] == (1, 0, 0)
    assert got["u2"] == (0, 1, 1)          # case + attr order
    assert got["u3"] == (1, 1, 0)          # none -> noindex, nofollow
    assert got["u4"] == (1, 0, 1)          # header only
    assert got["u5"] == (0, 0, 0)          # decoy description meta
    assert got["u6"] == (1, 1, 0)          # union of meta and header


def test_page_directives_binary_html_and_no_header_col(spark):
    from uniparser_spark.frontier.robots import page_directives

    pages = spark.createDataFrame(
        [("u1", '<meta name="robots" content="noarchive">'.encode())],
        "url string, html binary",
    )
    row = page_directives(pages).collect()[0]
    assert (row["noindex"], row["nofollow"], row["noarchive"]) == (0, 0, 1)


def test_robots_agent_matrix_specific_vs_fallback(spark):
    """Per-(host, agent) effective-group audit: agent-specific groups
    win, others fall back to '*', group-less hosts read as open, and
    non-robots.txt URLs never reach the parser."""
    from uniparser_spark.frontier.robots import robots_agent_matrix

    pages = spark.createDataFrame(
        [
            (
                "https://a.example/robots.txt",
                "User-agent: fastbot\nDisallow: /x\nCrawl-delay: 9\n\n"
                "User-agent: *\nAllow: /ok\nDisallow: /a\nDisallow: /b",
            ),
            ("https://b.example/robots.txt", "# nothing here\n"),
            # pruned: not a robots.txt path / trailing suffix
            ("https://a.example/page", "User-agent: decoy\nDisallow: /"),
            ("https://c.example/robots.txt.bak", "User-agent: *\nDisallow: /"),
        ],
        "url string, text string",
    )
    out = {
        (r["host"], r["agent"]): r.asDict()
        for r in robots_agent_matrix(pages, ["goodbot", "FastBot"]).collect()
    }
    assert set(out) == {
        ("a.example", "goodbot"), ("a.example", "fastbot"),
        ("b.example", "goodbot"), ("b.example", "fastbot"),
    }
    g = out[("a.example", "goodbot")]
    assert (g["specific"], g["crawl_delay"], g["n_disallow"], g["n_allow"]) \
        == (0, None, 2, 1)
    f = out[("a.example", "fastbot")]
    assert (f["specific"], f["crawl_delay"], f["n_disallow"], f["n_allow"]) \
        == (1, 9.0, 1, 0)
    for agent in ("goodbot", "fastbot"):
        b = out[("b.example", agent)]
        assert (b["specific"], b["crawl_delay"], b["n_disallow"],
                b["n_allow"]) == (0, None, 0, 0)


def test_robots_groups_shared_group_map():
    from uniparser_spark.frontier.robots import robots_groups

    groups = robots_groups(
        "User-agent: a\nUser-agent: b\nDisallow: /d\nCrawl-delay: 3\n"
        "User-agent: c\nAllow: /ok\n"
    )
    assert groups["a"] == groups["b"]
    assert groups["a"]["disallow"] == ["/d"] and groups["a"]["delay"] == 3.0
    assert groups["c"] == {"disallow": [], "allow": ["/ok"], "delay": None}


def test_robots_fetch_policy_branches(spark):
    """All five RFC 9309 branches: parse, redirect, allow_all (4xx),
    fresh-unreachable disallow, and grace-expired stale_cache_allow."""
    import datetime as dt

    from uniparser_spark.frontier.robots import robots_fetch_policy

    t0 = dt.datetime(2026, 1, 1)
    hr = lambda n: t0 + dt.timedelta(hours=n)
    rows = [
        ("ok", hr(0), 200), ("ok", hr(24), 200),
        ("redir", hr(0), 200), ("redir", hr(24), 308),
        ("gone", hr(0), 404),
        ("down", hr(0), 200), ("down", hr(10), 503),   # 10h dark < 720
        ("dark", hr(0), 200), ("dark", hr(800), 0),    # 800h dark > 720
        ("neverup", hr(0), 500), ("neverup", hr(1), 503),  # no ok fetch ever
    ]
    df = spark.createDataFrame(rows, "host string, ts timestamp, status int")
    got = {r["host"]: r for r in robots_fetch_policy(df).collect()}
    assert got["ok"]["policy"] == "parse"
    assert got["redir"]["policy"] == "follow_redirect"
    assert got["gone"]["policy"] == "allow_all"
    assert got["down"]["policy"] == "disallow_all"
    assert got["down"]["unreachable_hours"] == 10.0
    assert got["dark"]["policy"] == "stale_cache_allow"
    assert got["dark"]["unreachable_hours"] == 800.0
    # never answered: unreachability measured from log start (1h)
    assert got["neverup"]["policy"] == "disallow_all"
    assert got["neverup"]["unreachable_hours"] == 1.0
    # healthy hosts recheck daily, error hosts back off hourly
    assert got["ok"]["refetch_at_us"] - got["ok"]["last_us"] == 86400_000_000
    assert got["down"]["refetch_at_us"] - got["down"]["last_us"] == 3600_000_000
