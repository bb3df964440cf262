"""Redirect-chain resolution + soft-404 detection (crawl/redirects.py).

Reference scope: the reference delegates redirects to requests/aiohttp
(`adapters.py`, allow_redirects) with no corpus-side chain view; these
operators are part of the frontier layer the north rule adds.
"""

from uniparser_spark.crawl.redirects import resolve_redirects, soft404_scores


def test_resolve_redirects_chain_loop_dangling(spark):
    log = [
        # 3-hop chain: a -> b -> c -> d(200)
        ("a", 301, "b"),
        ("b", 302, "c"),
        ("c", 301, "d"),
        ("d", 200, None),
        # 2-cycle loop: e <-> f
        ("e", 301, "f"),
        ("f", 301, "e"),
        # dangling: g -> h, h never fetched
        ("g", 307, "h"),
        # terminal with a junk location (not a 3xx -> ignored)
        ("i", 200, "zzz"),
    ]
    df = spark.createDataFrame(log, "url string, status int, location string")
    out = {r["url"]: r for r in resolve_redirects(df, max_hops=8).collect()}

    assert out["a"]["final_url"] == "d" and out["a"]["n_hops"] == 3
    assert out["a"]["verdict"] == "resolved"
    assert out["b"]["final_url"] == "d" and out["b"]["n_hops"] == 2
    assert out["d"]["verdict"] == "resolved" and out["d"]["n_hops"] == 0

    # loops never terminate: capped and flagged, both members
    assert out["e"]["verdict"] == "unresolved"
    assert out["f"]["verdict"] == "unresolved"

    # chain leaves the log: the unfetched target is the schedule hint
    assert out["g"]["final_url"] == "h" and out["g"]["verdict"] == "dangling"
    assert out["g"]["n_hops"] == 1

    # 200 with a Location header is terminal
    assert out["i"]["final_url"] == "i" and out["i"]["verdict"] == "resolved"


def test_resolve_redirects_hop_cap(spark):
    # 5-hop chain with max_hops=4 -> unresolved; with 8 -> resolved
    log = [(f"u{i}", 301, f"u{i+1}") for i in range(5)] + [("u5", 200, None)]
    df = spark.createDataFrame(log, "url string, status int, location string")
    tight = {r["url"]: r for r in resolve_redirects(df, max_hops=4).collect()}
    wide = {r["url"]: r for r in resolve_redirects(df, max_hops=8).collect()}
    assert tight["u0"]["verdict"] == "unresolved"
    assert wide["u0"]["verdict"] == "resolved" and wide["u0"]["n_hops"] == 5


def test_soft404_scores_verdicts(spark):
    rows = [
        ("tiny-marker", "sorry page not found", 0),
        ("long-marker-low-links", "error 404 " + "word " * 100, 3),
        ("link-heavy-marker", "not found", 50),
        ("clean", "perfectly normal content " * 10, 3),
    ]
    df = spark.createDataFrame(rows, "url string, text string, n_links int")
    out = {r["url"]: r for r in
           soft404_scores(df).collect()}
    assert out["tiny-marker"]["soft404"] == 1
    # marker fired but the page is long and link-light -> keep
    assert out["long-marker-low-links"]["soft404"] == 0
    assert out["long-marker-low-links"]["n_markers"] == 1
    assert out["link-heavy-marker"]["soft404"] == 1
    assert out["clean"]["soft404"] == 0 and out["clean"]["n_markers"] == 0


def test_redirect_dangling_targets_feed_frontier(spark, tmp_path):
    """Composition: resolve_redirects' 'dangling' exits are exactly the
    URLs worth scheduling — feed them to CrawlEngine.seed_df and the
    crawl fetches them (and what they link to)."""
    from pyspark.sql import functions as F

    from uniparser_spark import testgen
    from uniparser_spark.crawl import CrawlEngine
    from uniparser_spark.urls import canonicalize_url

    pages = testgen.generate_pages(spark, n_hosts=2, n_details=6)
    storage_json = testgen.storage_json(2, keep_first=2)
    host0 = testgen.host_name(0)
    target = testgen.list_url(host0)

    log = spark.createDataFrame(
        [
            ("https://old.example/moved", 301, target),  # dangling exit
            ("https://old.example/kept", 200, None),      # terminal
        ],
        "url string, status int, location string",
    )
    res = resolve_redirects(log, max_hops=8)
    dangling = res.filter(F.col("verdict") == "dangling").select(
        F.col("final_url").alias("url"), F.lit(0.9).alias("priority")
    )
    assert dangling.count() == 1

    eng = CrawlEngine(
        spark, pages, storage_json, tmp_path / "state_redir",
    )
    eng.seed_df(dangling)
    eng.run(max_rounds=10)
    seen = {r["url_canon"] for r in eng.seen().collect()}
    assert canonicalize_url(target) in seen
    # the redirect target's own outlinks got crawled in later rounds
    assert canonicalize_url(testgen.detail_url(host0, 0)) in seen
