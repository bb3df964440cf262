"""robots.txt cache + crawl-delay integration for the scheduler.

The reference has no robots support (politeness is manual
``set_frequency``, SURVEY.md §2.3) — the north rule adds it.  Design:

- robots.txt bodies live in the same pages table as everything else
  (the fetcher downloads them like any URL); :func:`robots_table`
  distills them into a tiny ``(host, crawl_delay, disallow, allow)``
  cache table — one row per host, broadcast everywhere it's used;
- :func:`apply_robots` drops frontier candidates whose path matches a
  disallow prefix (longest-match wins between allow/disallow, the
  original REP rule) — an array-lambda filter after a broadcast join,
  no UDF;
- :func:`budgets_from_robots` turns crawl-delay into the per-round
  host budget consumed by ``politeness.schedule_batch``
  (budget = round_interval / crawl_delay, ≥1).

Parsing is a deterministic hand-rolled subset of the Robots Exclusion
Protocol (User-agent / Disallow / Allow / Crawl-delay, '*' agent
groups, comments) — enough for the corpus and byte-stable.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..engine.rows import map_rows

ROBOTS_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("crawl_delay", DoubleType(), True),
        StructField("disallow", ArrayType(StringType()), False),
        StructField("allow", ArrayType(StringType()), False),
    ]
)


def robots_groups(text: str) -> dict:
    """robots.txt body -> {agent_lower: {disallow, allow, delay}} —
    the full RFC 9309 group map (consecutive User-agent lines share a
    rule group).  :func:`parse_robots` selects one agent's effective
    group from this; :func:`robots_agent_matrix` diffs several."""
    groups: dict = {}
    current: List[str] = []
    prev_was_ua = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            agent = value.lower()
            groups.setdefault(agent, {"disallow": [], "allow": [], "delay": None})
            # RFC 9309 grouping: consecutive User-agent lines share one
            # rule group, so the rules that follow apply to all of them
            if prev_was_ua:
                current.append(agent)
            else:
                current = [agent]
            prev_was_ua = True
            continue
        prev_was_ua = False
        if field in ("disallow", "allow") and current:
            if value:
                for agent in current:
                    groups[agent][field].append(value)
        elif field == "crawl-delay" and current:
            try:
                delay = float(value)
            except ValueError:
                continue
            for agent in current:
                groups[agent]["delay"] = delay
    return groups


def parse_robots(
    text: str, user_agent: str = "*"
) -> Tuple[Optional[float], List[str], List[str]]:
    """robots.txt body -> (crawl_delay, disallow_prefixes, allow_prefixes)
    for ``user_agent`` (specific group wins over the '*' group)."""
    groups = robots_groups(text)
    grp = groups.get(user_agent.lower()) or groups.get("*")
    if grp is None:
        return None, [], []
    return grp["delay"], grp["disallow"], grp["allow"]


def robots_table(
    pages: DataFrame,
    text_col: str = "text",
    user_agent: str = "*",
) -> DataFrame:
    """pages table -> robots cache table (one row per host that serves a
    /robots.txt).  The scan is pruned to robots URLs before any Python
    runs; parsing is an Arrow-batched mapInPandas."""
    host = F.regexp_extract(F.col("url"), r"^https?://([^/:]+)", 1)
    robots_pages = pages.filter(
        F.col("url").rlike(r"^https?://[^/]+/robots\.txt$")
    ).select(host.alias("host"), F.col(text_col).alias("body"))
    return map_rows(
        robots_pages,
        ROBOTS_SCHEMA,
        lambda h, body: [(h, *parse_robots(body, user_agent))],
    )


def _path_col() -> F.Column:
    path = F.regexp_extract(F.col("url_canon"), r"^https?://[^/]+(/.*)?$", 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def _rep_regex_col(p):
    """REP rule → Java-regex Column: '*' = any chars, trailing '$' =
    end anchor, everything else literal (RFC 9309 §2.2.3)."""
    anchored = p.endswith("$")
    core = F.when(anchored, F.substring(p, 1, F.length(p) - 1)).otherwise(p)
    esc = F.regexp_replace(core, r"([.\[\]{}()+\-^$|?\\])", "\\\\$1")
    esc = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), esc, F.when(anchored, F.lit("$")).otherwise(F.lit("")))


def apply_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Filter frontier candidates against the robots cache.

    Full RFC 9309 rule matching — literal prefixes plus ``*`` wildcards
    and the ``$`` end anchor — with most-specific-match semantics: the
    longest matching rule (by raw rule length, §2.2.2) decides between
    allow and disallow; hosts without a robots row pass through.  Pure
    expressions after one broadcast join: each rule is rewritten to a
    Java regex natively (so a hand-built (host, disallow, allow) table
    works unchanged) and matched with ``regexp_like`` inside a
    zip_with — no Python anywhere.
    """
    joined = candidates.join(F.broadcast(robots), "host", "left")
    path = _path_col()

    def longest(rules):
        rx = F.transform(rules, _rep_regex_col)
        return F.coalesce(
            F.array_max(
                F.zip_with(
                    rules,
                    rx,
                    lambda p, x: F.when(F.regexp_like(path, x), F.length(p)).otherwise(
                        F.lit(0)
                    ),
                )
            ),
            F.lit(0),
        )

    dis_len = longest(F.col("disallow"))
    allow_len = longest(F.col("allow"))
    blocked = F.col("disallow").isNotNull() & (dis_len > 0) & (dis_len > allow_len)
    return joined.filter(~blocked).drop("crawl_delay", "disallow", "allow")


def budgets_from_robots(
    robots: DataFrame, round_interval_sec: float = 60.0, default_budget: int = 1000
) -> DataFrame:
    """(host, crawl_delay) -> (host, budget) for schedule_batch: at most
    interval/delay fetches per round, at least 1."""
    budget = F.when(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
        F.greatest(
            F.lit(1), F.floor(F.lit(round_interval_sec) / F.col("crawl_delay"))
        ).cast("int"),
    ).otherwise(F.lit(default_budget))
    return robots.select("host", budget.alias("budget"))


# ------------------------------------------------- page-level directives
# REP's HTML/header extension: <meta name="robots"> and the X-Robots-Tag
# response header carry per-PAGE directives that robots.txt (per-PATH)
# cannot express.  A compliant crawl honors both: `noindex` pages are
# fetched but excluded from the corpus, `nofollow` pages contribute no
# out-links to the frontier, `noarchive` pages must not be cached.

PAGE_DIRECTIVES_SCHEMA = "url string, noindex int, nofollow int, noarchive int"


def _page_directive_flags(url: str, markup, header: Optional[str]) -> List[tuple]:
    """The page's one ``(url, noindex, nofollow, noarchive)`` row: the
    union of all robots meta tags on the page plus the header value.
    Directives are comma-separated, case-insensitive; `none` is the
    spec's alias for `noindex, nofollow`; `all` is an explicit no-op."""
    from ..dom.html import markup_text, parse_html

    toks: set = set()
    for el in parse_html(markup_text(markup)).iter_elements():
        if el.tag != "meta":
            continue
        name = el.get("name") or ""
        if isinstance(name, list):
            name = " ".join(name)
        if name.strip().lower() != "robots":
            continue
        content = el.get("content") or ""
        toks.update(t.strip().lower() for t in str(content).split(","))
    if header and isinstance(header, str):
        toks.update(t.strip().lower() for t in header.split(","))
    if "none" in toks:
        toks.update(("noindex", "nofollow"))
    return [
        (
            url,
            int("noindex" in toks),
            int("nofollow" in toks),
            int("noarchive" in toks),
        )
    ]


def page_directives(
    pages: DataFrame,
    html_col: str = "html",
    header_col: Optional[str] = None,
) -> DataFrame:
    """Pages -> (url, noindex, nofollow, noarchive).

    Walks each page with the engine's own DOM parser (the same tree the
    rule chains and ``links_from_html`` see — attribute-order, quoting
    and case variants all parse identically), so a page the extractor
    can read is a page whose directives are honored.  ``header_col``
    optionally carries the page's X-Robots-Tag value; meta and header
    directives union, per the spec's most-restrictive-wins composition.

    Composition downstream: anti-join the corpus on ``noindex = 1``
    before admission, and anti-join discovered links' src on
    ``nofollow = 1`` before frontier insertion.

    Scale: same shape as ``links_from_html`` — HTML crosses into Python
    exactly once (Arrow-batched mapInPandas in the scan stage), the
    output is four narrow columns, nothing shuffles."""
    sel = [F.col("url"), F.col(html_col).alias("markup")]
    sel.append(
        F.col(header_col).alias("xrobots")
        if header_col
        else F.lit(None).cast("string").alias("xrobots")
    )
    return map_rows(pages.select(*sel), PAGE_DIRECTIVES_SCHEMA, _page_directive_flags)


def robots_agent_matrix(pages: DataFrame, agents: List[str]) -> DataFrame:
    """Per-(host, agent) effective REP group audit: which of the
    fleet's user-agents gets an agent-SPECIFIC rule group vs falling
    back to '*', and what that group actually grants — the diff a
    multi-agent crawl operation reads before assigning agents to
    hosts (a host that throttles 'fastbot' to crawl-delay 30 but
    leaves '*' open changes which identity should fetch it).

    Output: (host, agent, specific, crawl_delay, n_disallow,
    n_allow) — ``specific=1`` when the body names the agent,
    else the row describes the '*' fallback (or an open host when
    neither exists: NULL delay, zero rule counts).

    Scale shape: the scan prunes to /robots.txt URLs BEFORE any
    Python runs (robots bodies are ~10^-3 of a pages table); one
    Arrow crossing parses each body once and emits |agents| narrow
    rows — no shuffle at all until a consumer aggregates.

    Reference scope: the reference has no robots support at all
    (SURVEY.md §2.3); this extends the north rule's robots cache to
    agent fleets.
    """
    host = F.regexp_extract(F.col("url"), r"^https?://([^/:]+)", 1)
    robots_pages = pages.filter(
        F.col("url").rlike(r"^https?://[^/]+/robots\.txt$")
    ).select(host.alias("host"), F.col("text").alias("body"))
    agent_list = [a.lower() for a in agents]

    schema = StructType(
        [
            StructField("host", StringType(), False),
            StructField("agent", StringType(), False),
            StructField("specific", IntegerType(), False),
            StructField("crawl_delay", DoubleType(), True),
            StructField("n_disallow", IntegerType(), False),
            StructField("n_allow", IntegerType(), False),
        ]
    )

    def rows(h, body):
        groups = robots_groups(body)
        for agent in agent_list:
            grp = groups.get(agent)
            specific = int(grp is not None)
            if grp is None:
                grp = groups.get("*", {"disallow": [], "allow": [], "delay": None})
            yield (
                h, agent, specific, grp["delay"],
                len(grp["disallow"]), len(grp["allow"]),
            )

    return map_rows(robots_pages, schema, rows)


def robots_fetch_policy(fetches: DataFrame) -> DataFrame:
    """Effective crawl policy per host from its /robots.txt FETCH
    history — the RFC 9309 §2.3.1 status-code rules the parser alone
    can't answer:

    - 2xx → ``parse`` (use the body; :func:`robots_table` takes over),
    - 3xx → ``follow_redirect`` (redirect target governs),
    - 4xx ("unavailable") → ``allow_all`` — the spec says a missing
      robots.txt means no restrictions,
    - 5xx / network error (status 0, "unreachable") → ``disallow_all``
      while fresh, degrading to ``stale_cache_allow`` once the host
      has been continuously unreachable longer than 720 hours
      (the spec's "reasonably long time" — crawlers MAY then fall back
      to a cached copy; 30 days here).

    The LATEST fetch (ts, then status as tie-break) decides the
    branch; continuous-unreachability is measured from the last
    non-5xx fetch (or the log start when the host has never answered).
    ``refetch_at_us`` prices the next probe: healthy outcomes recheck
    daily, error outcomes back off hourly — feeding the same scheduler lane as
    frontier/freshness.py's revalidation planner.

    Shape: ONE map-side-combined groupBy(host) — max_by for the latest
    fetch, conditional max for the last-reachable timestamp; the whole
    classification is codegen CASE on the aggregate row.  Returns
    ``(host, last_status, last_us, unreachable_hours, policy,
    refetch_at_us)`` — unreachable_hours is 0 outside the 5xx branch.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    st = F.col("status").cast("int")
    agg = fetches.groupBy(F.col("host")).agg(
        F.max_by(st, F.struct(us, st)).alias("last_status"),
        F.max(us).alias("last_us"),
        F.max(F.when((st > 0) & (st < 500), us)).alias("_last_ok_us"),
        F.min(us).alias("_first_us"),
    )
    ls = F.col("last_status")
    unreachable = (ls >= 500) | (ls <= 0)
    hours = F.when(
        unreachable,
        (
            F.col("last_us") - F.coalesce("_last_ok_us", "_first_us")
        ) / F.lit(3_600_000_000),
    ).otherwise(F.lit(0.0))
    policy = (
        F.when((ls >= 200) & (ls < 300), F.lit("parse"))
        .when((ls >= 300) & (ls < 400), F.lit("follow_redirect"))
        .when((ls >= 400) & (ls < 500), F.lit("allow_all"))
        .when(hours > 720, F.lit("stale_cache_allow"))
        .otherwise(F.lit("disallow_all"))
    )
    refetch = F.col("last_us") + F.when(
        unreachable, F.lit(3600 * 1_000_000)
    ).otherwise(F.lit(86400 * 1_000_000))
    return agg.select(
        "host",
        "last_status",
        "last_us",
        F.round(hours, 4).alias("unreachable_hours"),
        policy.alias("policy"),
        refetch.alias("refetch_at_us"),
    )
