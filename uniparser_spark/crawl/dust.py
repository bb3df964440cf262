"""DUST mining + crawl-trap detection — frontier hygiene analytics.

Two classic crawl-side defenses the reference engine (a parse library,
not a crawler) has no analog for, but any frontier at 10^10-URL scale
must run between rounds:

- **DUST** ("Different URLs with Similar Text", Bar-Yossef et al.,
  WWW'07): mine the fetched-pages table for URL aliases — distinct URLs
  serving byte-identical normalized content — and distill them into
  per-host *irrelevant-query-parameter* rules the canonicalizer can
  apply BEFORE fetching (every alias skipped is a fetch saved).
- **Crawl traps**: hosts that manufacture unbounded URL spaces over a
  tiny content set (calendar pages, session ids, faceted search).  A
  per-host roll-up of URL-count vs distinct-content-count plus URL
  shape signals yields a trap score the scheduler cuts budgets with
  (same consumption seam as ``textops.quality.host_quality_stats``).

Scale notes: :func:`url_aliases` is alias→canonical (one row per alias,
NOT per pair) — min/count windows over narrow (fp, url) rows in one
scan + one shuffle, linear in the corpus where the naive same-fp
self-join is quadratic inside boilerplate mega-groups.  :func:`dust_param_rules` and
:func:`host_trap_stats` aggregate per (host, param) / host — shuffles
carry only short strings and counts; page text crosses the wire
nowhere (only its 16-byte fingerprint).  Everything is native
expressions (str_to_map / array_except / regexp) — zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..textops.exprs import h16

_HOST_RE = r"^https?://([^/?#:]+)"
_PATH_RE = r"^https?://[^/?#]+([^?#]*)"
_QUERY_RE = r"^[^?#]*\?([^#]*)"


def _norm(text_col: str) -> F.Column:
    """The corpus-wide content fingerprint normalization (same device
    as textops.dedup.exact_dup_groups: lowercase, collapse whitespace)."""
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def url_aliases(pages: DataFrame) -> DataFrame:
    """(alias_url, canonical_url, content_fp) for every URL whose
    normalized content is served by at least one other URL.

    canonical = MIN(url) of the fingerprint group — deterministic and
    order-independent; one output row per alias (linear), never the
    quadratic within-group pair set.  Computed as window functions over
    the fingerprint partition rather than groupBy+self-join: the join
    form re-evaluates the pages scan (and re-hashes every text) on both
    sides, which at 100 TB is a second full pass over the corpus — the
    window form scans once and shuffles once, carrying only the narrow
    (url, fp16) relation.
    """
    w = Window.partitionBy("content_fp")
    fp = pages.select(
        F.col("url").alias("alias_url"), h16(_norm("text")).alias("content_fp")
    )
    return (
        fp.select(
            "alias_url",
            F.min("alias_url").over(w).alias("canonical_url"),
            "content_fp",
            F.count(F.lit(1)).over(w).alias("_n"),
        )
        .filter((F.col("_n") > 1) & (F.col("alias_url") != F.col("canonical_url")))
        .select("alias_url", "canonical_url", "content_fp")
    )


def dust_param_rules(
    aliases: DataFrame,
    min_votes: int = 2,
) -> DataFrame:
    """Alias table → per-host irrelevant-query-parameter rules.

    For alias/canonical pairs that agree on host AND path (the alias is
    *only* a query-string variation), each parameter present in the
    alias but absent from the canonical collects one vote; parameters
    with ``>= min_votes`` independent supporting pairs become
    ``(host, param, votes)`` rules.  The canonicalizer strips a rule's
    param host-wide, collapsing the alias space before fetch.

    str_to_map parses the query string JVM-side; the vote aggregation
    is a two-phase count on (host, param) — skew-free (a host's params
    are few) and tiny.
    """
    host = F.regexp_extract(F.col("alias_url"), _HOST_RE, 1)
    a_path = F.regexp_extract(F.col("alias_url"), _PATH_RE, 1)
    c_path = F.regexp_extract(F.col("canonical_url"), _PATH_RE, 1)
    c_host = F.regexp_extract(F.col("canonical_url"), _HOST_RE, 1)
    a_params = F.map_keys(
        F.str_to_map(F.regexp_extract(F.col("alias_url"), _QUERY_RE, 1), F.lit("&"), F.lit("="))
    )
    c_params = F.map_keys(
        F.str_to_map(F.regexp_extract(F.col("canonical_url"), _QUERY_RE, 1), F.lit("&"), F.lit("="))
    )
    extra = F.array_except(a_params, c_params)
    return (
        aliases.filter((host == c_host) & (a_path == c_path))
        .select(host.alias("host"), F.explode(extra).alias("param"))
        .filter(F.col("param") != "")
        .groupBy("host", "param")
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") >= min_votes)
    )


def apply_dust_rules(
    candidates: DataFrame,
    rules: DataFrame,
    url_col: str = "url_canon",
) -> DataFrame:
    """Strip ruled-out query parameters from candidate URLs before the
    seen-set anti-join (aliases then collapse onto their canonical and
    dedup for free).  rules is tiny → broadcast; the rewrite is a pure
    expression: parse query → map_filter against the host's param set →
    re-serialize in original order (re-sorting would break byte-parity
    for params the rules DON'T cover).

    The rewrite fires ONLY when a ruled param was actually stripped
    (size(kept) < size(split(query))): canonicalize_url (urls.py)
    deliberately preserves #fragments for reference parity, so a
    fragment-carrying URL on a ruled host that matches none of the
    host's params must pass through byte-identical — otherwise
    dust-enabled crawls would fetch different URLs than the reference.
    """
    host = F.regexp_extract(F.col(url_col), _HOST_RE, 1)
    host_rules = F.broadcast(
        rules.groupBy("host").agg(F.collect_set("param").alias("drop_params"))
    )
    out = candidates.withColumn("_h", host).join(host_rules.withColumnRenamed("host", "_h"), "_h", "left")
    base = F.regexp_extract(F.col(url_col), r"^([^?#]*)", 1)
    query = F.regexp_extract(F.col(url_col), _QUERY_RE, 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda kv: ~F.array_contains(
            F.col("drop_params"), F.split(kv, "=").getItem(0)
        ),
    )
    untouched = (
        F.col("drop_params").isNull()
        | (query == "")
        | (F.size(kept) == F.size(F.split(query, "&")))
    )
    rewritten = F.when(untouched, F.col(url_col)).otherwise(
        F.when(F.size(kept) == 0, base).otherwise(
            F.concat(base, F.lit("?"), F.array_join(kept, "&"))
        )
    )
    return out.withColumn(url_col, rewritten).drop("_h", "drop_params")


def strip_params_py(url: str, drop_params) -> str:
    """Pure-Python twin of :func:`apply_dust_rules`' rewrite for
    driver-side lookups (crawl result re-nesting at test scale): same
    semantics — no query → unchanged, all params stripped → bare base,
    surviving params keep original order, and — matching the column
    form's gate — the URL passes through byte-identical (fragment
    intact) when no ruled param is present."""
    base, sep, rest = url.partition("?")
    if not sep:
        return url
    query = rest.split("#", 1)[0]
    if query == "":
        return url
    kept = [kv for kv in query.split("&") if kv.split("=", 1)[0] not in drop_params]
    if len(kept) == len(query.split("&")):
        return url
    return base if not kept else base + "?" + "&".join(kept)


def host_trap_stats(pages: DataFrame, approx: bool = False) -> DataFrame:
    """Per-host crawl-trap signals: URL inflation over distinct content
    plus URL-shape aggregates.

    - ``n_urls`` / ``n_content`` / ``url_inflation`` — a trap serves few
      pages under many URLs, so inflation ≫ 1 is the primary signal;
    - ``avg_path_depth`` / ``max_path_depth`` — calendar/recursion traps
      grow path segments without bound;
    - ``query_frac`` — session-id traps mint query variants;
    - ``trap_score`` — bounded [0,1) composite: 1 - 1/inflation weighted
      with depth and query pressure (rational, bit-stable both engines).

    One scan, one groupBy(host); ``approx=True`` swaps the exact
    distinct for the HLL sketch exactly as in host_quality_stats —
    the 10^10-row path, materialized in code rather than a comment.
    """
    host = F.regexp_extract(F.col("url"), _HOST_RE, 1)
    path = F.regexp_extract(F.col("url"), _PATH_RE, 1)
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    has_q = F.regexp_extract(F.col("url"), _QUERY_RE, 1) != ""
    base = pages.select(
        host.alias("host"),
        h16(_norm("text")).alias("fp"),
        depth.cast("double").alias("depth"),
        has_q.cast("double").alias("has_q"),
    )
    agg = base.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        (
            F.approx_count_distinct("fp") if approx else F.countDistinct("fp")
        ).alias("_n_content_raw"),
        F.round(F.avg("depth"), 4).alias("avg_path_depth"),
        F.max("depth").cast("int").alias("max_path_depth"),
        F.round(F.avg("has_q"), 4).alias("query_frac"),
    ).select(
        "*",
        # HLL can over-estimate: n_content > n_urls would push
        # url_inflation below 1 and trap_score negative, breaking the
        # documented [0,1) bound — clamp the sketch to the exact count.
        F.least(F.col("n_urls"), F.col("_n_content_raw")).alias("n_content"),
    ).drop("_n_content_raw")
    inflation = F.col("n_urls").cast("double") / F.col("n_content").cast("double")
    depth_sig = F.col("avg_path_depth") / (F.lit(4.0) + F.col("avg_path_depth"))
    score = (
        F.lit(0.6) * (F.lit(1.0) - F.lit(1.0) / inflation)
        + F.lit(0.25) * depth_sig
        + F.lit(0.15) * F.col("query_frac")
    )
    return agg.select(
        "host",
        "n_urls",
        "n_content",
        F.round(inflation, 4).alias("url_inflation"),
        "avg_path_depth",
        "max_path_depth",
        "query_frac",
        F.round(score, 4).alias("trap_score"),
    )


def url_templates(pages: DataFrame) -> DataFrame:
    """URL-template discovery: collapse URLs onto their path SHAPE
    (digit runs → ``{n}``, long hex runs → ``{hex}``, query values →
    ``{v}``) and rank templates by population — the analytics a rule
    author (reference CrawlerRule regex patterns) or a trap auditor
    reads first: '/item-{n}/' with 10^6 URLs is a template worth one
    extraction rule; '/cal/{n}/{n}/{n}' with 10^6 URLs and one content
    fingerprint is a trap.

    One scan + one groupBy on the (short) template string; example =
    MIN(url) for a deterministic representative.
    """
    host = F.regexp_extract(F.col("url"), _HOST_RE, 1)
    path = F.regexp_extract(F.col("url"), _PATH_RE, 1)
    query = F.regexp_extract(F.col("url"), _QUERY_RE, 1)
    shape = F.regexp_replace(path, r"[0-9a-fA-F]{16,}", "{hex}")
    shape = F.regexp_replace(shape, r"[0-9]+", "{n}")
    qshape = F.regexp_replace(query, r"=[^&]*", "={v}")
    template = F.concat(
        host,
        shape,
        F.when(query != "", F.concat(F.lit("?"), qshape)).otherwise(F.lit("")),
    )
    return (
        pages.select(
            host.alias("host"),
            template.alias("template"),
            F.col("url"),
        )
        .groupBy("host", "template")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("url").alias("example_url"),
        )
        .filter(F.col("n_urls") >= 2)
    )


def path_prefix_stats(
    pages: DataFrame,
    min_urls: int = 2,
) -> DataFrame:
    """Browse-space rollup: aggregate URLs onto every path prefix up
    to 3 segments and measure, per (host, prefix), how
    much DISTINCT content the subtree actually serves.

    This is the hierarchical view the flat per-host trap score
    (:func:`host_trap_stats`) can't give: a host may be 95% healthy
    with one '/cal/' subtree minting infinite URLs over one page —
    the prefix rows localize the trap to the subtree, so the
    frontier blocks '/cal/%' instead of the whole host (and a seed
    auditor reads the same rows top-down as a coverage map).

    Per row: n_urls under the prefix, n_content distinct normalized
    fingerprints, dup_frac = 1 - n_content/n_urls in [0, 1), and
    max_seen_depth (deepest segment count observed below the prefix
    — trap subtrees grow deep as well as wide).

    Scale shape: prefixes explode in the scan stage (<= 3
    narrow rows per URL — bounded fan-out, unlike per-segment
    explosion), then ONE map-side-combinable groupBy; fingerprints
    are 16-hex strings, page text never crosses the Exchange.
    count(DISTINCT fp) within a group is exact (the trap decision
    wants it); swap in approx_count_distinct at production scale
    where the prefix population is huge.
    """
    host = F.regexp_extract(F.col("url"), _HOST_RE, 1)
    path = F.regexp_extract(F.col("url"), _PATH_RE, 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    depth = F.least(F.lit(3), F.size(segs))
    # guard depth = 0 (root URL): sequence(1, 0) DESCENDS in Spark,
    # which would mint two phantom '/' prefixes per root page —
    # subtree rollups start at one segment, the host row belongs to
    # host_trap_stats
    prefixes = F.when(depth >= 1, F.transform(
        F.sequence(F.lit(1), depth),
        lambda d: F.concat(
            F.lit("/"), F.array_join(F.slice(segs, 1, d), "/")
        ),
    )).otherwise(F.array().cast("array<string>"))
    rows = pages.select(
        host.alias("host"),
        F.size(segs).alias("n_segs"),
        h16(_norm("text")).alias("fp"),
        F.posexplode(prefixes).alias("d", "prefix"),
    )
    return (
        rows.groupBy("host", "prefix")
        .agg(
            (F.min("d") + 1).cast("int").alias("depth"),
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("fp").alias("n_content"),
            F.max("n_segs").cast("int").alias("max_seen_depth"),
        )
        .filter(F.col("n_urls") >= min_urls)
        .select(
            "host",
            "depth",
            "prefix",
            "n_urls",
            "n_content",
            F.round(
                F.lit(1.0) - F.col("n_content") / F.col("n_urls"), 6
            ).alias("dup_frac"),
            "max_seen_depth",
        )
    )
