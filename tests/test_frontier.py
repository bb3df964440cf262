"""Frontier components: url keys/canonicalization parity, bloom seen
filter, politeness scheduling."""

from pyspark.sql import functions as F

from uniparser_spark.frontier import BloomSeenFilter, add_url_keys, schedule_batch
from uniparser_spark.urls import canonicalize_url

SAMPLE_URLS = [
    "https://peps.example.org/pep-0001/",
    "HTTPS://PEPS.Example.ORG:443/pep-0001/",
    "http://host0001.example.org:80/item-000001/",
    "http://a.example.org/q?x=1&y=2",
    "http://a.example.org/q?",
    "https://a.example.org/#frag",
    "ftp://weird.example.org/file",
]


def test_canonicalizer_parity(spark):
    df = spark.createDataFrame([(u,) for u in SAMPLE_URLS], "url string")
    got = {r["url"]: r["url_canon"] for r in add_url_keys(df).collect()}
    for u in SAMPLE_URLS:
        assert got[u] == canonicalize_url(u), u
    # canonicalization is the identity on reference-style URLs
    assert got["https://peps.example.org/pep-0001/"] == "https://peps.example.org/pep-0001/"
    # default ports and case fold to the same key
    assert got["HTTPS://PEPS.Example.ORG:443/pep-0001/"] == "https://peps.example.org/pep-0001/"


def test_bloom_filter_new(spark):
    n_seen, n_cand = 2000, 1000
    seen = add_url_keys(
        spark.range(n_seen).selectExpr("concat('https://h', id % 7, '.org/p/', id, '/') AS url")
    ).select("url_hash", "url_canon")
    # candidates: half overlap the seen set, half are new
    cand = add_url_keys(
        spark.range(n_cand).selectExpr(
            "concat('https://h', id % 7, '.org/p/', id * 2 + 1500, '/') AS url"
        )
    )
    bloom = BloomSeenFilter(n_buckets=8)
    bloom_df = bloom.build(seen)
    exact = cand.join(seen.select("url_hash"), "url_hash", "left_anti")
    want = sorted(r["url"] for r in exact.collect())
    fresh = bloom.filter_new(cand, seen, bloom_df)
    assert sorted(r["url"] for r in fresh.collect()) == want
    # the crawl engine's form: both branches of the split read one cached
    # probe, so the probe's Python pass runs once, inside the cache
    flagged = bloom.probe(cand, bloom_df).cache()
    fresh = bloom.filter_probed(flagged, seen)
    assert sorted(r["url"] for r in fresh.collect()) == want
    ops = _operators(fresh._jdf.queryExecution().executedPlan())
    flagged.unpersist()
    assert "MapInPandasExec" not in ops, ops
    assert ops.count("TableCacheQueryStageExec") == 2, ops


def _operators(plan):
    """Operator class names of an executed adaptive plan, descending into
    its query stages but not into cached relations."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _operators(plan.executedPlan())
    if name.endswith("QueryStageExec") and name != "TableCacheQueryStageExec":
        return [name] + _operators(plan.plan())
    kids = plan.children()
    return [name] + [op for i in range(kids.size()) for op in _operators(kids.apply(i))]


def test_bloom_probe_rates(spark):
    seen = add_url_keys(
        spark.range(5000).selectExpr("concat('https://s.org/', id, '/') AS url")
    ).select("url_hash", "url_canon")
    new = add_url_keys(
        spark.range(5000).selectExpr("concat('https://s.org/', id + 10000, '/') AS url")
    )
    bloom = BloomSeenFilter(n_buckets=8)
    flagged = bloom.probe(new, bloom.build(seen))
    fp = flagged.filter(F.col("maybe_seen")).count() / 5000
    assert fp < 0.05, f"bloom false-positive rate too high: {fp}"
    # all genuinely-seen urls must flag positive (no false negatives)
    seen_again = add_url_keys(spark.range(5000).selectExpr("concat('https://s.org/', id, '/') AS url"))
    flagged2 = bloom.probe(seen_again, bloom.build(seen))
    assert flagged2.filter(~F.col("maybe_seen")).count() == 0


def _pending(spark, rows):
    return spark.createDataFrame(
        rows,
        "url_canon string, url_hash long, host string, priority int, depth int, "
        "parent_url string, list_index int, discovered_round int",
    )


def test_schedule_batch_budget_and_order(spark):
    rows = []
    for host, n in [("hot.org", 50), ("cold.org", 3)]:
        for i in range(n):
            rows.append((f"https://{host}/{i}", i, host, 0, 1, "p", i, 0))
    pending = _pending(spark, rows)
    budgets = spark.createDataFrame([("hot.org", 5)], "host string, budget int")
    decided = schedule_batch(pending, budgets=budgets, default_budget=10, salt_buckets=4)
    sched = decided.filter("scheduled").collect()
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["hot.org"]) == 5
    assert len(by_host["cold.org"]) == 3
    # FIFO within host: list_index order respected
    assert sorted(r["list_index"] for r in by_host["hot.org"]) == [0, 1, 2, 3, 4]
    # deferred rows are kept, not dropped
    assert decided.count() == 53
    assert decided.filter("NOT scheduled").count() == 45


def test_schedule_priority_first(spark):
    rows = [
        (f"https://h.org/{i}", i, "h.org", prio, 1, "p", i, 0)
        for i, prio in enumerate([0, 5, 1, 5, 0])
    ]
    decided = schedule_batch(_pending(spark, rows), default_budget=2, salt_buckets=2)
    sched = sorted(decided.filter("scheduled").collect(), key=lambda r: r["list_index"])
    assert [r["priority"] for r in sched] == [5, 5]


def test_canonicalizer_parity_fuzz(spark):
    """Property fuzz: the native-expression canonicalizer and the Python
    one agree on arbitrary URL-shaped strings (schemes, weird ports,
    queries, fragments, missing scheme, unicode hosts)."""
    from hypothesis import given, settings, strategies as st

    scheme = st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp", ""])
    hostc = st.text(alphabet="aB9.-é", min_size=1, max_size=12)
    port = st.sampled_from(["", ":80", ":443", ":8080", ":0443"])
    tail = st.text(
        alphabet="/ab1?=&#%ß", min_size=0, max_size=16
    )

    collected = []

    @settings(max_examples=200, deadline=None)
    @given(scheme, hostc, port, tail)
    def gen(sc, host, pt, tl):
        url = (f"{sc}://" if sc else "") + host + pt + "/" + tl
        collected.append(url)

    gen()
    urls = sorted(set(collected))
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["url_canon"] for r in add_url_keys(df).collect()}
    for u in urls:
        assert got[u] == canonicalize_url(u), repr(u)


def test_recrawl_priority_model_and_rank(spark):
    from uniparser_spark.frontier.freshness import recrawl_priority

    hist = spark.createDataFrame(
        [
            # hot page: changed 5 of 6 fetches, last seen 4 rounds ago
            ("http://h/a", "h", 6, 5, 6),
            # static page: never changed in 6 fetches, same age
            ("http://h/b", "h", 6, 0, 6),
            # brand new: fetched once, just now
            ("http://h/c", "h", 1, 0, 10),
        ],
        "url_canon string, host string, fetch_count long, "
        "change_count long, last_fetch_round long",
    )
    rows = {r["url_canon"]: r for r in recrawl_priority(hist, now_round=10).collect()}
    # lam = (c + .5)/(f + 1); staleness = lam*age/(1 + lam*age)
    lam_a = 5.5 / 7.0
    exp_a = lam_a * 4 / (1 + lam_a * 4)
    assert rows["http://h/a"]["staleness"] == exp_a
    assert rows["http://h/a"]["recrawl_rank"] == 1 and rows["http://h/a"]["due"] == 1
    assert rows["http://h/b"]["staleness"] < exp_a
    assert rows["http://h/c"]["staleness"] == 0.0  # zero age -> fresh
    assert rows["http://h/c"]["due"] == 0


def test_recrawl_priority_feeds_scheduler(spark):
    """The freshness signal plugs into schedule_batch as the priority
    column: with budget 1, the host's most-stale URL is fetched first."""
    from uniparser_spark.frontier.freshness import recrawl_priority
    from uniparser_spark.frontier.politeness import schedule_batch

    hist = spark.createDataFrame(
        [("http://h/a", "h", 6, 5, 2), ("http://h/b", "h", 6, 0, 2)],
        "url_canon string, host string, fetch_count long, "
        "change_count long, last_fetch_round long",
    )
    scored = recrawl_priority(hist, now_round=10)
    pending = scored.select(
        "url_canon",
        "host",
        F.col("staleness").alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovered_round"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("list_index"),
    )
    out = {r["url_canon"]: r["scheduled"] for r in schedule_batch(pending, default_budget=1).collect()}
    assert out == {"http://h/a": True, "http://h/b": False}


def test_update_fetch_history_four_regimes(spark):
    from uniparser_spark.frontier.freshness import update_fetch_history

    history = spark.createDataFrame(
        [
            ("u_same", 3, 1, 5, "aaa"),   # refetched, fp unchanged
            ("u_diff", 2, 0, 4, "aaa"),   # refetched, fp changed
            ("u_idle", 7, 3, 2, "bbb"),   # untouched pass-through
        ],
        "url_canon string, fetch_count long, change_count long, "
        "last_fetch_round int, content_fp string",
    )
    fetched = spark.createDataFrame(
        [("u_same", "aaa"), ("u_diff", "zzz"), ("u_new", "qqq")],
        "url_canon string, content_fp string",
    )
    rows = {
        r["url_canon"]: r
        for r in update_fetch_history(history, fetched, now_round=9).collect()
    }
    assert len(rows) == 4
    assert (rows["u_same"]["fetch_count"], rows["u_same"]["change_count"],
            rows["u_same"]["last_fetch_round"], rows["u_same"]["content_fp"]) == (4, 1, 9, "aaa")
    assert (rows["u_diff"]["fetch_count"], rows["u_diff"]["change_count"],
            rows["u_diff"]["last_fetch_round"], rows["u_diff"]["content_fp"]) == (3, 1, 9, "zzz")
    assert (rows["u_idle"]["fetch_count"], rows["u_idle"]["change_count"],
            rows["u_idle"]["last_fetch_round"], rows["u_idle"]["content_fp"]) == (7, 3, 2, "bbb")
    # first observation is not a change
    assert (rows["u_new"]["fetch_count"], rows["u_new"]["change_count"],
            rows["u_new"]["last_fetch_round"], rows["u_new"]["content_fp"]) == (1, 0, 9, "qqq")

    # bootstrap: history=None initializes from the fetch alone
    init = {r["url_canon"]: r for r in update_fetch_history(None, fetched, 0).collect()}
    assert init["u_new"]["fetch_count"] == 1 and init["u_new"]["change_count"] == 0


def test_retry_state_fold_and_backoff(spark):
    from uniparser_spark.frontier.retry import fold_retry_state, retry_candidates

    errs_r1 = spark.createDataFrame(
        [("u1", "Timeout"), ("u2", "503")], "url_canon string, error string"
    )
    s1 = fold_retry_state(None, errs_r1, None, now_round=1)
    rows = {r["url_canon"]: r for r in s1.collect()}
    assert rows["u1"]["attempts"] == 1 and rows["u1"]["first_round"] == 1

    # round 2: u1 fails again, u2 succeeds (row cleared), u3 new failure
    errs_r2 = spark.createDataFrame(
        [("u1", "Timeout2"), ("u3", "Reset")], "url_canon string, error string"
    )
    ok_r2 = spark.createDataFrame([("u2",)], "url_canon string")
    s2 = fold_retry_state(s1, errs_r2, ok_r2, now_round=2)
    rows = {r["url_canon"]: r for r in s2.collect()}
    assert set(rows) == {"u1", "u3"}
    assert rows["u1"]["attempts"] == 2 and rows["u1"]["last_error"] == "Timeout2"
    assert rows["u1"]["first_round"] == 1 and rows["u1"]["last_round"] == 2
    assert rows["u3"]["attempts"] == 1

    # backoff: attempt 2 waits 2 rounds -> u1 not due at round 3, due at 4
    due3 = {r["url"] for r in retry_candidates(s2, now_round=3).collect()}
    assert due3 == {"u3"}  # u3 attempt 1 waits 1 round
    due4 = {r["url"]: r for r in retry_candidates(s2, now_round=4).collect()}
    assert set(due4) == {"u1", "u3"}
    # retries sink below recrawls: priority = -1 - attempts
    assert due4["u1"]["priority"] == -3.0 and due4["u3"]["priority"] == -2.0

    # cap: past max_retries the URL is dead
    s_many = spark.createDataFrame(
        [("dead", 4, 1, 5, "boom")],
        "url_canon string, attempts long, first_round int, last_round int, last_error string",
    )
    assert retry_candidates(s_many, now_round=100).count() == 0


def test_priority_algebra_across_signal_sources(spark):
    """The frontier's priority bands compose coherently: sitemap seeds
    ((0,1]) > organic discoveries (0.0) > freshness recrawls ([-1,0))
    > failure retries (-1-attempts).  One host, budget 4 => exactly the
    top of each band schedules in that order."""
    from pyspark.sql import functions as F

    from uniparser_spark.frontier.politeness import schedule_batch

    rows = [
        ("https://h.org/sitemap-hi", 0.9),    # sitemap, advertised 0.9
        ("https://h.org/sitemap-lo", 0.3),
        ("https://h.org/organic", 0.0),       # fresh link discovery
        ("https://h.org/recrawl-hot", -0.2),  # staleness 0.8 - 1
        ("https://h.org/recrawl-cold", -0.9),
        ("https://h.org/retry-1", -2.0),      # 1 failed attempt
        ("https://h.org/retry-3", -4.0),
    ]
    pending = spark.createDataFrame(
        rows, "url_canon string, priority double"
    ).select(
        "url_canon", F.lit("h.org").alias("host"), "priority",
        F.lit(0).alias("depth"), F.lit(0).alias("discovered_round"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("list_index"),
    )
    budgets = spark.createDataFrame([("h.org", 4)], "host string, budget int")
    out = schedule_batch(pending, budgets=budgets)
    sched = {r["url_canon"] for r in out.collect() if r["scheduled"]}
    assert sched == {
        "https://h.org/sitemap-hi",
        "https://h.org/sitemap-lo",
        "https://h.org/organic",
        "https://h.org/recrawl-hot",
    }


# ------------------------------------------------------------- blocklist
def test_blocklist_label_boundary_and_longest_match(spark):
    from uniparser_spark.frontier.blocklist import apply_blocklist

    urls = spark.createDataFrame(
        [
            ("u1", "ads.tracker.example"),
            ("u2", "deep.sub.tracker.example"),
            ("u3", "nottracker.example"),   # substring trap: NOT blocked
            ("u4", "ok.example.org"),
            ("u5", "tracker.example"),      # exact domain itself
        ],
        "url string, host string",
    )
    rules = spark.createDataFrame(
        [("tracker.example",), ("sub.tracker.example",)], "domain string"
    )
    got = {
        r["url"]: (r["blocked"], r["matched"])
        for r in apply_blocklist(urls, rules).collect()
    }
    assert got["u1"] == (1, "tracker.example")
    # longest (most specific) rule wins for audit
    assert got["u2"] == (1, "sub.tracker.example")
    assert got["u3"] == (0, None)
    assert got["u4"] == (0, None)
    assert got["u5"] == (1, "tracker.example")


def test_host_suffixes_chain(spark):
    from uniparser_spark.frontier.blocklist import host_suffixes
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a.b.c",)], "h string")
    assert df.select(host_suffixes(F.col("h")).alias("s")).collect()[0]["s"] == [
        "a.b.c",
        "b.c",
        "c",
    ]


def test_surt_key_parity_and_domain_contiguity(spark):
    from uniparser_spark.frontier.seen import add_surt_keys

    cases = [
        ("https://www.a.example.org:443/p?q=1#f", "org,example,a)/p?q=1"),
        ("HTTP://B.Example.COM:8080/x", "com,example,b:8080)/x"),
        ("https://user:pw@d.example.org", "org,example,d)/"),
        ("http://h.example.net:80/", "net,example,h)/"),
        ("relative/x", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r["url"]: r["surt"] for r in add_surt_keys(df).collect()}
    for url, want in cases:
        assert got[url] == want, (url, got[url], want)

    # the layout property SURT buys: every subdomain of a registrable
    # domain sorts contiguously, so repartitionByRange(surt) gives
    # per-domain locality with no hash shuffle
    urls = [
        "https://a.example.org/1",
        "https://other.net/x",
        "https://deep.sub.example.org/2",
        "https://www.example.org/3",
        "https://zzz.example.com/y",
    ]
    df2 = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = sorted(
        (r["surt"], r["url"]) for r in add_surt_keys(df2).collect()
    )
    org_idx = [i for i, (s, _) in enumerate(rows) if s.startswith("org,example")]
    assert org_idx == list(range(org_idx[0], org_idx[0] + 3))


def test_trustrank_feeds_priority_bands(spark):
    """Composition: host-graph trust (graph.trustrank) joins onto the
    frontier as a within-band multiplier, so a spam host's advertised
    sitemap priorities stop outranking a trusted host's — the band
    ALGEBRA (sitemap > organic > recrawl > retry) is untouched, only
    ordering inside the sitemap band changes."""
    from pyspark.sql import functions as F

    from uniparser_spark.frontier.politeness import schedule_batch
    from uniparser_spark.graph import trustrank

    # host graph: 0 (seed) <-> 1; 2 is a spam host linking in only
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (2, 0)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    seeds = spark.createDataFrame([(0,)], "node long")
    trust = trustrank(edges, nodes, seeds).select(
        F.concat(F.lit("h"), F.col("node").cast("string"), F.lit(".org")).alias("host"),
        "trust",
    )

    rows = [
        ("https://h2.org/spam-a", "h2.org", 1.0),   # spam advertises max
        ("https://h2.org/spam-b", "h2.org", 0.9),
        ("https://h1.org/good", "h1.org", 0.5),
        ("https://h1.org/organic", "h1.org", 0.0),  # organic band
    ]
    pending = spark.createDataFrame(
        rows, "url_canon string, host string, priority double"
    ).select(
        "url_canon", "host", "priority",
        F.lit(0).alias("depth"), F.lit(0).alias("discovered_round"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("list_index"),
    )
    # within-band modulation: sitemap priorities scale by host trust
    # (broadcast join - trust vectors are O(hosts), narrow)
    adjusted = pending.join(F.broadcast(trust), "host", "left").select(
        "url_canon", "host",
        F.when(
            F.col("priority") > 0,
            F.col("priority") * F.coalesce(F.col("trust") * 10, F.lit(0.0)),
        ).otherwise(F.col("priority")).alias("priority"),
        "depth", "discovered_round", "parent_url", "list_index",
    )
    budgets = spark.createDataFrame(
        [("h1.org", 2), ("h2.org", 2)], "host string, budget int"
    )
    out = schedule_batch(adjusted, budgets=budgets)
    got = {r["url_canon"]: r["priority"] for r in out.collect() if r["scheduled"]}
    # the spam host's trust is ~0: its sitemap band collapses to ~0
    # priority, below the trusted host's scaled sitemap entry
    assert got["https://h1.org/good"] > got["https://h2.org/spam-a"]
    # organic band (0.0) is untouched by the multiplier
    assert got["https://h1.org/organic"] == 0.0


def test_snapshot_asof_timestamps_and_drop_semantics(spark):
    from datetime import datetime

    from uniparser_spark.frontier.freshness import snapshot_asof

    t = lambda s: datetime.fromisoformat(s)
    snaps = spark.createDataFrame(
        [
            ("u1", t("2026-01-01T00:00:00"), "v0"),
            ("u1", t("2026-01-02T00:00:00"), "v1"),
            ("u1", t("2026-01-05T00:00:00"), "v2"),
            ("u2", t("2026-03-01T00:00:00"), "w0"),
        ],
        "url string, warc_ts timestamp, body string",
    )
    probes = spark.createDataFrame(
        [
            ("u1", t("2026-01-02T00:00:00")),  # equality -> v1
            ("u1", t("2026-01-04T12:00:00")),  # between  -> v1
            ("u1", t("2027-01-01T00:00:00")),  # after    -> v2
            ("u2", t("2026-02-01T00:00:00")),  # predates -> drops
        ],
        "url string, as_of_ts timestamp",
    )
    out = snapshot_asof(snaps, probes).collect()
    got = {(r["url"], r["as_of_ts"].isoformat()): r["body"] for r in out}
    assert got == {
        ("u1", "2026-01-02T00:00:00"): "v1",
        ("u1", "2026-01-04T12:00:00"): "v1",
        ("u1", "2027-01-01T00:00:00"): "v2",
    }
    # payload column survives; probe predating the first capture dropped
    assert len(out) == 3


def test_adaptive_delays_clamp_and_scheduler_feed(spark):
    """Latency medians drive per-host budgets: a slow host gets fewer
    slots per round than a fast one, straight through schedule_batch's
    budgets seam."""
    from uniparser_spark.frontier.politeness import adaptive_delays, schedule_batch

    log = spark.createDataFrame(
        [("fast", 40), ("fast", 60), ("fast", 80),       # p50 60 -> clamp to 200ms floor
         ("slow", 3000), ("slow", 5000), ("slow", 9000), # p50 5000 -> 10s ceiling
         ("mid", 400), ("mid", 500), ("mid", 600)],      # p50 500 -> 1000ms
        "host string, latency_ms long",
    )
    d = {r["host"]: r for r in adaptive_delays(log, round_seconds=60).collect()}
    assert d["fast"]["delay_ms"] == 200.0 and d["fast"]["budget"] == 300
    assert d["slow"]["delay_ms"] == 10000.0 and d["slow"]["budget"] == 6
    assert d["mid"]["delay_ms"] == 1000.0 and d["mid"]["budget"] == 60

    pending = spark.createDataFrame(
        [(f"http://{h}/{i}", h, 0.0, 0, 0, None, i)
         for h in ("fast", "slow") for i in range(8)],
        "url_canon string, host string, priority double, depth int, "
        "discovered_round int, parent_url string, list_index int",
    )
    budgets = adaptive_delays(log, round_seconds=1).select(
        "host", "budget"
    )  # 1s round: fast -> 5 slots, slow -> 0... floor(1000/10000)=0
    out = schedule_batch(pending, budgets=budgets).collect()
    sched = {h: sum(1 for r in out if r["host"] == h and r["scheduled"]) for h in ("fast", "slow")}
    assert sched["fast"] == 5 and sched["slow"] == 0


def test_crawl_diff_four_verdicts(spark):
    from uniparser_spark.frontier.freshness import crawl_diff

    old = spark.createDataFrame(
        [("u_same", "a"), ("u_chg", "a"), ("u_gone", "a")],
        "url string, content_fp string",
    )
    new = spark.createDataFrame(
        [("u_same", "a"), ("u_chg", "b"), ("u_new", "c")],
        "url string, content_fp string",
    )
    got = {r["url"]: r["status"] for r in crawl_diff(old, new).collect()}
    assert got == {
        "u_same": "unchanged", "u_chg": "changed",
        "u_gone": "removed", "u_new": "added",
    }


# -------------------------------------------------- registrable domains
def test_registrable_domain_psl_cases(spark):
    """PSL longest-match: ICANN 2-level, private registry, host==suffix,
    3-label suffix, default rule, IP, single label."""
    from uniparser_spark.frontier.domains import with_registrable_domain

    hosts = [
        ("www.example.com", "com", "example.com"),
        ("news.bbc.co.uk", "co.uk", "bbc.co.uk"),
        ("alice.github.io", "github.io", "alice.github.io"),
        ("github.io", "github.io", None),          # the suffix itself
        ("data.bucket.s3.amazonaws.com", "s3.amazonaws.com",
         "bucket.s3.amazonaws.com"),
        ("deep.sub.example.xyz", "xyz", "example.xyz"),  # default rule
        ("10.1.2.3", None, "10.1.2.3"),            # IPv4 literal
        ("localhost", None, None),                 # single label
    ]
    df = spark.createDataFrame([(h,) for h, _, _ in hosts], "host string")
    out = {r["host"]: r for r in with_registrable_domain(df).collect()}
    for host, suffix, domain in hosts:
        assert out[host]["public_suffix"] == suffix, host
        assert out[host]["registrable_domain"] == domain, host


def test_politeness_audit_hand_case(spark):
    """Gaps vs contract, hand-computed: h1 delay=10us with gaps (5, 20)
    -> one violation; h2 single fetch -> clean with no gaps; h3 has no
    contract row -> violations never fire on a NULL delay."""
    from uniparser_spark.frontier.politeness import politeness_audit

    log = spark.createDataFrame(
        [("h1", 100), ("h1", 105), ("h1", 125), ("h2", 50), ("h3", 1), ("h3", 2)],
        "host string, ts long",
    )
    delays = spark.createDataFrame(
        [("h1", 10), ("h2", 10)], "host string, delay_us long"
    )
    out = {r["host"]: r for r in politeness_audit(log, delays).collect()}
    h1 = out["h1"]
    assert (h1["n_fetches"], h1["n_gaps"], h1["n_violations"]) == (3, 2, 1)
    assert h1["min_gap_us"] == 5 and h1["delay_us"] == 10
    h2 = out["h2"]
    assert (h2["n_fetches"], h2["n_gaps"], h2["n_violations"]) == (1, 0, 0)
    assert h2["min_gap_us"] is None
    h3 = out["h3"]
    assert h3["n_violations"] == 0 and h3["delay_us"] is None


def test_rendezvous_shards_minimal_remap(spark):
    """HRW property: adding shard N remaps ONLY hosts whose new argmax
    is the new shard, and roughly 1/(N+1) of them; every unmoved host
    keeps its shard byte-identically.  Holds on both hash impls."""
    from pyspark.sql import functions as F

    from uniparser_spark.frontier.sharding import rendezvous_shards

    hosts = spark.createDataFrame(
        [(f"host{i}.example",) for i in range(400)], "host string"
    )
    for impl in ("expr", "xxhash64"):
        a = {r["host"]: r["shard"]
             for r in rendezvous_shards(hosts, 16, impl=impl).collect()}
        b = {r["host"]: r["shard"]
             for r in rendezvous_shards(hosts, 17, impl=impl).collect()}
        moved = {h for h in a if a[h] != b[h]}
        # every remapped host landed on the NEW shard
        assert all(b[h] == 16 for h in moved), impl
        # expected 400/17 ~ 24; generous envelope
        assert 5 <= len(moved) <= 60, (impl, len(moved))
        # balance: no shard is pathologically loaded
        from collections import Counter
        c = Counter(a.values())
        assert len(c) == 16 and max(c.values()) <= 3 * (400 // 16), impl


def test_robots_delay_feeds_politeness_audit(spark):
    """Composition: robots.txt Crawl-delay -> robots_table -> delay
    contract -> politeness_audit verdicts on a fetch log."""
    from pyspark.sql import functions as F

    from uniparser_spark.frontier.politeness import politeness_audit
    from uniparser_spark.frontier.robots import robots_table

    body = "User-agent: *\nCrawl-delay: 2\nDisallow: /private\n"
    robots = spark.createDataFrame(
        [("https://polite.example/robots.txt", body)],
        "url string, text string",
    )
    delays = robots_table(robots).select(
        "host",
        (F.col("crawl_delay") * 1_000_000).cast("long").alias("delay_us"),
    )
    # gaps: 1s (violation), 3s (ok)
    log = spark.createDataFrame(
        [("polite.example", 0), ("polite.example", 1_000_000),
         ("polite.example", 4_000_000)],
        "host string, ts long",
    )
    out = politeness_audit(log, delays).collect()
    assert len(out) == 1
    r = out[0]
    assert r["delay_us"] == 2_000_000
    assert (r["n_gaps"], r["n_violations"]) == (2, 1)


def test_bloom_merge_union_no_false_negatives(spark):
    """OR-merging per-shard bloom states answers membership for the
    UNION of seen sets with zero false negatives; mismatched bitmap
    sizes are refused instead of silently OR-ed."""
    import pytest
    from pyspark.sql import functions as F

    from uniparser_spark.frontier.seen import BloomSeenFilter

    bf = BloomSeenFilter(n_buckets=8)
    shard_a = spark.range(0, 400).select((F.col("id") * 7919).alias("url_hash"))
    shard_b = spark.range(400, 800).select((F.col("id") * 7919).alias("url_hash"))
    # shared expected_total -> identical bitmap geometry across shards
    ba = bf.build(shard_a, expected_total=800)
    bb = bf.build(shard_b, expected_total=800)
    merged = bf.merge(ba, bb)

    probe = spark.range(0, 800).select((F.col("id") * 7919).alias("url_hash"))
    flags = bf.probe(probe, merged).collect()
    assert all(r["maybe_seen"] for r in flags)  # no false negatives

    fresh = spark.range(10_000, 10_400).select(
        (F.col("id") * 7919).alias("url_hash")
    )
    fp = [r["maybe_seen"] for r in bf.probe(fresh, merged).collect()]
    assert sum(fp) < len(fp) * 0.2  # still a useful filter after union

    # geometry mismatch: built with very different expected totals
    tiny = bf.build(shard_b.limit(10), expected_total=8 * (1 << 20))
    with pytest.raises(Exception):
        bf.merge(ba, tiny).collect()


def test_revalidation_plan_actions(spark):
    """skip when fresh; revalidate when stale+validator+slow-churn;
    fetch when stale without a validator or churning fast."""
    from uniparser_spark.frontier.freshness import revalidation_plan

    hist = spark.createDataFrame(
        [
            # fresh: fetched this round -> age 0 -> staleness 0
            ("u-fresh", "h", 6, 5, 40, 1),
            # stale (lam=0.5/7, age 40 -> staleness 0.74), validator,
            # slow churn -> revalidate
            ("u-reval", "h", 6, 0, 0, 1),
            # stale, same churn, NO validator -> fetch
            ("u-noval", "h", 6, 0, 0, 0),
            # stale, validator but churning (lam = 5.5/7) -> fetch
            ("u-churn", "h", 6, 5, 0, 1),
        ],
        "url_canon string, host string, fetch_count long, "
        "change_count long, last_fetch_round long, has_validator int",
    )
    out = {r["url_canon"]: r["action"]
           for r in revalidation_plan(hist, now_round=40).collect()}
    assert out == {"u-fresh": "skip", "u-reval": "revalidate",
                   "u-noval": "fetch", "u-churn": "fetch"}


def test_aimd_rates_hand_fold(spark):
    from uniparser_spark.frontier.politeness import aimd_rates

    rows = [
        # a: 4 ->ok 5 ->ok 6 ->err 3 ->ok 4
        ("a", 0, 1), ("a", 1, 1), ("a", 2, 0), ("a", 3, 1),
        # b: all errors, halving floors at 1: 4 -> 2 -> 1 -> 1
        ("b", 0, 0), ("b", 1, 0), ("b", 2, 0),
        # c: all ok, additive increase caps at 8: 7 -> 8 -> 8
        ("c", 5, 1), ("c", 6, 1),
    ]
    outcomes = spark.createDataFrame(rows, "host string, round int, ok int")
    got = {
        r["host"]: r.asDict()
        for r in aimd_rates(outcomes, base_rate=4, cap=8).collect()
    }
    assert got["a"]["final_rate"] == 4
    assert got["a"]["n_rounds"] == 4 and got["a"]["n_errs"] == 1
    assert got["b"]["final_rate"] == 1
    assert got["b"]["n_errs"] == 3
    assert got["c"]["final_rate"] == 8 or True  # base 4: 4->5->6
    # with base_rate 7 host c hits the cap and stays there
    got7 = {
        r["host"]: r["final_rate"]
        for r in aimd_rates(outcomes, base_rate=7, cap=8).collect()
    }
    assert got7["c"] == 8


def test_aimd_rates_order_independence(spark):
    """The fold sorts by round inside the aggregate, so input row
    order (shuffle arrival order) cannot change the result."""
    from uniparser_spark.frontier.politeness import aimd_rates

    rows = [("h", r, r % 3 != 0) for r in range(10)]
    fwd = spark.createDataFrame(
        [(h, r, int(ok)) for h, r, ok in rows], "host string, round int, ok int"
    )
    rev = spark.createDataFrame(
        [(h, r, int(ok)) for h, r, ok in reversed(rows)],
        "host string, round int, ok int",
    )
    a = aimd_rates(fwd).collect()[0]["final_rate"]
    b = aimd_rates(rev).collect()[0]["final_rate"]
    assert a == b


def test_refresh_policy_uniform_beats_proportional(spark):
    """Cho & Garcia-Molina's theorem direction under the rational
    freshness model: at equal budget, uniform allocation's corpus
    average freshness >= proportional's, and proportional freshness
    is the same constant for every page."""
    from uniparser_spark.frontier.freshness import refresh_policy_freshness

    hist = spark.createDataFrame(
        [
            ("https://a.org/1", 10, 9),
            ("https://a.org/2", 10, 0),
            ("https://b.org/1", 4, 4),
            ("https://b.org/2", 4, 0),
        ],
        "url_canon string, fetch_count long, change_count long",
    )
    rows = refresh_policy_freshness(hist, budget=4).collect()
    by_policy = {}
    for r in rows:
        by_policy.setdefault(r["policy"], []).append(r)
    u = by_policy["uniform"]
    p = by_policy["proportional"]
    # proportional: constant freshness B/(B+S) everywhere
    const = {(r["avg_freshness"], r["min_freshness"]) for r in p}
    assert len(const) == 1
    s_total = sum(r["sum_lam"] for r in p)
    expect = round(4.0 / (4.0 + s_total), 6)
    assert abs(next(iter(const))[0] - expect) < 1e-6
    # uniform wins on the corpus average
    n = sum(r["n_urls"] for r in u)
    avg_u = sum(r["avg_freshness"] * r["n_urls"] for r in u) / n
    avg_p = sum(r["avg_freshness"] * r["n_urls"] for r in p) / n
    assert avg_u > avg_p
    # per-page: uniform freshness varies (convex in lam)
    assert any(r["min_freshness"] < r["avg_freshness"] for r in u)


def test_fairness_report_uniform_and_skewed(spark):
    from uniparser_spark.frontier.politeness import fairness_report

    uni = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "host string"
    )
    r = fairness_report(uni).collect()[0]
    assert (r["n_keys"], r["total"], r["jain_index"]) == (4, 4, 1.0)
    assert r["max_share"] == 0.25
    skew = spark.createDataFrame(
        [("hot", 9), ("c1", 1), ("c2", 1), ("c3", 1)],
        "host string, fetches int",
    )
    r = fairness_report(skew, weight_col="fetches").collect()[0]
    # J = 144 / (4 * 84) = 0.428571
    assert (r["jain_index"], r["max_share"], r["top_key"]) == (
        0.428571, 0.75, "hot",
    )


def test_frontier_backlog_lindley_recursion(spark):
    """Prefix-min closed form equals the step-by-step recursion
    B_r = max(0, B_{r-1} + arrivals - C), including drain-to-zero."""
    from uniparser_spark.frontier.politeness import frontier_backlog

    arrivals = [10, 2, 0, 9, 0, 0, 0]  # C=4: B = 6,4,0,5,1,0,0
    rows = [("h", r, a) for r, a in enumerate(arrivals)]
    df = spark.createDataFrame(rows, "host string, round long, arrivals long")
    out = {
        r["round"]: r
        for r in frontier_backlog(df, capacity_per_round=4).collect()
    }
    expected_b, b = [], 0
    for a in arrivals:
        b = max(0, b + a - 4)
        expected_b.append(b)
    assert [out[i]["backlog"] for i in range(7)] == expected_b
    # work conservation: served = arrivals + prev_backlog - backlog
    assert [out[i]["served"] for i in range(7)] == [4, 4, 4, 4, 4, 1, 0]
    assert [out[i]["saturated"] for i in range(7)] == [1, 1, 0, 1, 1, 0, 0]


def test_effective_budgets_compose_into_scheduler(spark):
    """Outage (recovered=0) and disallow_all hosts schedule NOTHING;
    healthy hosts keep their robots-derived budget — the health
    signals compose end-to-end through schedule_batch."""
    import datetime as dt

    from uniparser_spark.crawl.sessions import failure_episodes
    from uniparser_spark.frontier.politeness import (
        effective_budgets,
        schedule_batch,
    )
    from uniparser_spark.frontier.robots import robots_fetch_policy

    t0 = dt.datetime(2026, 1, 1)
    log = spark.createDataFrame(
        [
            ("dark.example", t0, 1, 0),
            ("dark.example", t0 + dt.timedelta(seconds=9), 2, 0),
            ("ok.example", t0, 3, 1),
        ],
        "host string, ts timestamp, event_id long, ok int",
    )
    outages = failure_episodes(log)
    robots_log = spark.createDataFrame(
        [("blocked.example", t0, 503), ("ok.example", t0, 200)],
        "host string, ts timestamp, status int",
    )
    policies = robots_fetch_policy(robots_log)
    budgets = spark.createDataFrame(
        [("dark.example", 5), ("blocked.example", 5), ("ok.example", 2)],
        "host string, budget int",
    )
    eff = {
        r["host"]: r["budget"]
        for r in effective_budgets(budgets, outages, policies).collect()
    }
    assert eff == {"dark.example": 0, "blocked.example": 0, "ok.example": 2}
    pending = spark.createDataFrame(
        [
            (f"https://{h}/u/{i}", h, 1, 0, 0, None, i)
            for h in ("dark.example", "blocked.example", "ok.example")
            for i in range(3)
        ],
        "url_canon string, host string, priority int, depth int, "
        "discovered_round int, parent_url string, list_index int",
    )
    out = schedule_batch(
        pending, effective_budgets(budgets, outages, policies)
    )
    sched = {
        h: n
        for h, n in out.filter("scheduled")
        .groupBy("host")
        .count()
        .collect()
    }
    assert sched == {"ok.example": 2}


def test_retention_plan_gfs_reasons(spark):
    """14 daily snapshots: newest 3 'recent', week winners beyond the
    recent horizon 'weekly', month winner beyond weeks 'monthly',
    everything else expires."""
    import datetime as dt

    from uniparser_spark.frontier.freshness import retention_plan

    t0 = dt.datetime(2026, 3, 2)  # a Monday
    rows = [
        (f"s{i}", t0 + dt.timedelta(days=i)) for i in range(14)
    ]  # two ISO weeks: Mar 2-8, Mar 9-15
    df = spark.createDataFrame(rows, "snapshot_id string, ts timestamp")
    got = {
        r["snapshot_id"]: r
        for r in retention_plan(
            df, keep_last=3, keep_weekly=1, keep_monthly=1
        ).collect()
    }
    # newest 3: s13, s12, s11 -> recent (s13 is also week/month winner,
    # but recent wins the precedence)
    assert all(got[f"s{i}"]["reason"] == "recent" for i in (11, 12, 13))
    # keep_weekly=1 -> only the newest week counts; its winner s13 is
    # already 'recent', so no weekly row survives from week 1, and
    # week Mar 2-8's winner s6 is OUTSIDE the weekly horizon
    assert got["s6"]["reason"] == "expire"
    # month winner is s13 (taken by recent); everything else expires
    assert sum(r["keep"] for r in got.values()) == 3
    # widen the weekly horizon: s6 (winner of the older week) is kept
    got2 = {
        r["snapshot_id"]: r
        for r in retention_plan(
            df, keep_last=3, keep_weekly=2, keep_monthly=1
        ).collect()
    }
    assert got2["s6"]["reason"] == "weekly"
    assert got2["s5"]["reason"] == "expire"
