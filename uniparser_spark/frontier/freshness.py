"""Freshness-driven recrawl prioritization.

The engine's TTL recrawl (crawl/engine.py expire_and_requeue) treats
every expired URL alike (flat priority −1).  Real crawl schedulers
(Cho & Garcia-Molina, "Effective Page Refresh Policies for Web
Crawlers") rank recrawls by ESTIMATED CHANGE RATE: a page that changed
in 5 of its last 6 fetches should be revisited before one that never
changes.  This operator computes that ranking from per-URL fetch
history as pure native column expressions (whole-stage codegen, no
Python), so it composes with ``schedule_batch`` as just another
priority source — the same seam the PageRank signal uses.

Model (all arithmetic rational, so Spark and the DuckDB oracle produce
bit-identical doubles — no transcendentals):

- change rate  ``lam = (change_count + 0.5) / (fetch_count + 1)``
  (Laplace-smoothed fraction of fetches that observed a change),
- age        = ``now_round - last_fetch_round`` scheduling rounds,
- staleness  = ``lam·age / (1 + lam·age)`` — the [0,1) rational
  approximation of the Poisson ``1 − exp(−lam·age)`` staleness
  probability (same monotonicity, same fixed points; chosen over exp()
  because IEEE +,×,÷ are correctly rounded in every engine while
  transcendentals are not),
- ``recrawl_rank`` = per-host order (staleness desc, url asc) — the
  host partition is the politeness unit, so ranking inside it needs no
  global sort,
- ``due`` = staleness ≥ threshold.

Scale shape: one scan of the (narrow) history table + one window over
host — the same partitioning the politeness scheduler shuffles on, so
in the round loop this ranking piggybacks on an Exchange that already
exists.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F


def lam_expr():
    """Laplace-smoothed change rate (changes per fetch)."""
    return (F.col("change_count") + F.lit(0.5)) / (
        F.col("fetch_count") + F.lit(1)
    ).cast("double")


def staleness_expr(now_round: int, last_round_col: str = "last_fetch_round"):
    """The rational staleness probability in [0, 1) — see module doc."""
    la = lam_expr() * (F.lit(now_round) - F.col(last_round_col)).cast("double")
    return la / (F.lit(1.0) + la)


def recrawl_priority(history: DataFrame, now_round: int) -> DataFrame:
    """history: (url_canon, host, fetch_count, change_count,
    last_fetch_round).  Returns it + (lam, staleness, recrawl_rank, due).
    """
    lam = lam_expr()
    staleness = staleness_expr(now_round)
    scored = history.select(
        "url_canon",
        "host",
        "fetch_count",
        "change_count",
        lam.alias("lam"),
        staleness.alias("staleness"),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("staleness").desc(), F.col("url_canon").asc()
    )
    return scored.select(
        "*",
        F.row_number().over(w).alias("recrawl_rank"),
        (F.col("staleness") >= F.lit(0.5)).cast("int").alias("due"),
    )


def update_fetch_history(
    history: Optional[DataFrame],
    fetched: DataFrame,
    now_round: int,
) -> DataFrame:
    """Fold one crawl round's fetch results into the per-URL history
    the freshness model consumes — the state-maintenance half of the
    recrawl loop (model half: :func:`recrawl_priority`).

    history: (url_canon, fetch_count, change_count, last_fetch_round,
    content_fp) or None for the first round; fetched: (url_canon,
    content_fp) — the round's pages with their content fingerprints
    (e.g. ``crawl.dust._norm`` + ``textops.exprs.h16``).

    Semantics: a fetch increments fetch_count; change_count increments
    only when a PREVIOUS fingerprint exists and differs (the first
    observation of a URL is not a "change"); last_fetch_round advances
    only for fetched rows; untouched history rows pass through.

    Scale shape: one full-outer join on url_canon — the same key the
    seen state buckets on, so in the engine's round loop this
    piggybacks on existing co-partitioning (zero extra Exchange with
    bucketed state tables); all columns are narrow.
    """
    if history is None:
        return fetched.select(
            "url_canon",
            F.lit(1).cast("long").alias("fetch_count"),
            F.lit(0).cast("long").alias("change_count"),
            F.lit(now_round).cast("int").alias("last_fetch_round"),
            "content_fp",
        )
    h = history.select(
        "url_canon",
        F.col("fetch_count").alias("_fc"),
        F.col("change_count").alias("_cc"),
        F.col("last_fetch_round").alias("_lr"),
        F.col("content_fp").alias("_fp"),
    )
    f = fetched.select("url_canon", F.col("content_fp").alias("_new_fp"))
    fetched_now = F.col("_new_fp").isNotNull()
    changed = (
        fetched_now & F.col("_fp").isNotNull() & (F.col("_fp") != F.col("_new_fp"))
    ).cast("long")
    return (
        h.join(f, "url_canon", "full")
        .select(
            "url_canon",
            (F.coalesce(F.col("_fc"), F.lit(0)) + fetched_now.cast("long")).alias(
                "fetch_count"
            ),
            (F.coalesce(F.col("_cc"), F.lit(0)) + changed).alias("change_count"),
            F.when(fetched_now, F.lit(now_round))
            .otherwise(F.col("_lr"))
            .cast("int")
            .alias("last_fetch_round"),
            F.coalesce(F.col("_new_fp"), F.col("_fp")).alias("content_fp"),
        )
    )


def snapshot_asof(
    snaps: DataFrame,
    probes: DataFrame,
    ts: str = "warc_ts",
    probe_ts: str = "as_of_ts",
) -> DataFrame:
    """As-of join over a versioned page-snapshot table: for each probe
    (url, probe_ts) return the snapshot row with the LARGEST ts <=
    probe_ts — "the page as it stood at time T".  Inner semantics:
    probes older than the url's first snapshot drop (DuckDB's ASOF JOIN
    default, which the oracle uses verbatim).

    The reference engine re-fetches live pages, so "as of" never
    arises; against an archive-backed pages table (CDX/WARC captures,
    the north-rule input shape with its warc_ts column) this is how a
    crawl round reads a time-consistent corpus slice.

    Scale shape: Spark has no native as-of join, and the naive form
    (range join then per-probe window over the FULL payload) shuffles
    page bodies.  Instead: (1) the inequality join + max aggregation
    runs on a (url, ts)-only projection — map-side combinable, narrow
    rows; (2) one equi-join on (url, ts) fetches the winning payload —
    co-partitioned with the snapshot table's natural (url-bucketed)
    layout, so html/text cross the wire once, for winners only.
    Identical probe rows collapse (groupBy) — as-of is idempotent.

    ``ts``/``probe_ts`` may be any orderable type (timestamp, epoch
    long); names must differ so the intermediate join is unambiguous.
    """
    if ts == probe_ts:
        raise ValueError("ts and probe_ts must have distinct column names")
    narrow = snaps.select("url", ts)
    best = (
        probes.select("url", probe_ts)
        .join(narrow, "url")
        .where(F.col(ts) <= F.col(probe_ts))
        .groupBy("url", probe_ts)
        .agg(F.max(ts).alias(ts))
    )
    return best.join(snaps, ["url", ts]).select(
        "url", probe_ts, ts, *[c for c in snaps.columns if c not in ("url", ts)]
    )


def crawl_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Crawl-to-crawl change detection: full-outer join of two snapshot
    fingerprint tables → one verdict row per URL ever seen —
    ``added`` (new only), ``removed`` (old only), ``changed`` (both,
    fingerprints differ), ``unchanged``.  The verdict stream is what
    feeds freshness models (update_fetch_history counts `changed`),
    re-extraction queues (changed + added), and deletion propagation
    (removed → tombstones).

    Scale shape: both sides are NARROW (key, fp) projections — page
    bodies never join; one co-partitioned shuffle on the key, which the
    snapshot tables' url-bucketed layout already provides at rest."""
    o = old.select(F.col("url"), F.col("content_fp").alias("old_fp"))
    n = new.select(F.col("url"), F.col("content_fp").alias("new_fp"))
    return o.join(n, "url", "full_outer").select(
        "url",
        "old_fp",
        "new_fp",
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def revalidation_plan(history: DataFrame, now_round: int) -> DataFrame:
    """Conditional-GET planning: for each known URL decide ``skip``
    (still fresh), ``revalidate`` (stale, the server gave us an
    ETag/Last-Modified AND the page rarely changes — a cheap
    conditional GET will usually come back 304), or ``fetch`` (stale
    with no validator, or churning too fast for a 304 to be likely).
    At web scale the revalidate bucket is most of the recrawl traffic
    and costs ~40 bytes a hit instead of a page body — this operator
    is the split that realizes that saving.

    Input: the fetch-history table (:func:`update_fetch_history`
    shape) plus a ``has_validator`` int column (did the last response
    carry ETag/Last-Modified).  Output: (url, host, lam, staleness,
    action) with the same change-rate model as
    :func:`recrawl_priority` (λ = (c+½)/(f+1) Laplace-smoothed;
    staleness = λ·age/(1+λ·age)) — one codegen projection over the
    history scan, no shuffle at all.
    """
    lam = lam_expr()
    staleness = staleness_expr(now_round)
    scored = history.select(
        F.col("url_canon"),
        F.col("host"),
        lam.alias("lam"),
        staleness.alias("staleness"),
        F.col("has_validator"),
    )
    return scored.select(
        "url_canon",
        "host",
        "lam",
        "staleness",
        F.when(F.col("staleness") < F.lit(0.5), F.lit("skip"))
        .when(
            (F.col("has_validator") == 1)
            & (F.col("lam") < F.lit(0.3)),
            F.lit("revalidate"),
        )
        .otherwise(F.lit("fetch"))
        .alias("action"),
    )


def scd2_history(
    snapshots: DataFrame,
    url_col: str = "url_canon",
) -> DataFrame:
    """Fold per-round fetch snapshots into SCD-2 validity intervals.

    A recrawl pipeline observes (url, round, content_fp) every time it
    fetches; the corpus wants page VERSIONS — "this content was live
    from round a through round b" — so that training sets, diffs and
    freshness models can ask for the page as-of any round without
    storing every snapshot.  Classic slowly-changing-dimension type 2,
    built as gaps-and-islands: a version starts wherever the
    fingerprint differs from the previous round's (lag), the island id
    is the running count of starts, and each island aggregates to one
    interval row.

    Output per (url, island): (url, content_fp, valid_from, valid_to,
    n_rounds, is_current) — is_current marks the interval containing
    the url's latest observed round.

    Scale: one shuffle on url; both windows and the final groupBy reuse
    that partitioning (Exchange-once, verified via .explain), and rows
    are (url, round, fp) — the page text stays in the store.  Re-fetch
    gaps are fine: islands are keyed by change points, not round
    adjacency, so a url fetched at rounds {0,1,5} still folds correctly
    (the interval's valid_to is the last round the version was SEEN).
    """
    url, rnd, fp = F.col(url_col), F.col("round"), F.col("content_fp")
    w = Window.partitionBy(url_col).orderBy("round")
    chg = F.when(
        F.lag("content_fp", 1).over(w).isNull()
        | (F.lag("content_fp", 1).over(w) != fp),
        1,
    ).otherwise(0)
    # two selects: Spark forbids a window function (the running sum)
    # over an expression that itself contains one (the lag)
    flagged = snapshots.select(
        url.alias("url"),
        rnd.cast("int").alias("round"),
        fp.alias("content_fp"),
        chg.alias("chg"),
    ).select(
        "url",
        "round",
        "content_fp",
        F.sum("chg")
        .over(
            Window.partitionBy("url")
            .orderBy("round")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("island"),
    )
    iv = flagged.groupBy("url", "island").agg(
        F.first("content_fp").alias("content_fp"),
        F.min("round").alias("valid_from"),
        F.max("round").alias("valid_to"),
        F.count(F.lit(1)).cast("int").alias("n_rounds"),
    )
    w_url = Window.partitionBy("url")
    return iv.select(
        "url",
        "content_fp",
        "valid_from",
        "valid_to",
        "n_rounds",
        (F.col("valid_to") == F.max("valid_to").over(w_url))
        .cast("int")
        .alias("is_current"),
    )


def refresh_policy_freshness(history: DataFrame, budget: int) -> DataFrame:
    """Price the epoch's recrawl budget under the two canonical
    allocation policies (Cho & Garcia-Molina, "Effective Page Refresh
    Policies for Web Crawlers", TODS'03): UNIFORM gives every page the
    same refresh frequency f = B/N; PROPORTIONAL gives page i
    f_i = B*lam_i / sum(lam) (chase the fast-changing pages).

    Expected steady-state freshness per page uses the same RATIONAL
    model as :func:`staleness_expr` — freshness = f/(f + lam), the
    1/(1 + lam/f) analogue of the Poisson closed form, chosen so both
    engines compute identical IEEE arithmetic (no exp()).  Under this
    model the proportional policy's freshness is CONSTANT across pages
    (f_i/(f_i + lam_i) = B/(B + S), independent of lam_i) while the
    uniform policy's per-page freshness is convex in lam — which is
    exactly Cho's counterintuitive theorem surfacing: uniform wins on
    average, and these rows let a scheduler SEE the margin per host
    before committing an epoch's budget.

    Output, one row per (policy, host): n_urls, sum of lam (rounded),
    avg/min expected freshness (rounded 6).

    Scale shape: one pass for the two corpus scalars (N, S — a
    broadcast of two doubles), one map-side-combined groupBy(host).
    The history table is narrow; page bytes are never touched.
    """
    host = F.regexp_extract(F.col("url_canon"), r"^https?://([^/?#:]+)", 1)
    base = history.select(host.alias("host"), lam_expr().alias("lam"))
    totals = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_total"),
        F.sum("lam").alias("s_total"),
    )
    b = F.lit(float(budget))
    f_uniform = b / F.col("n_total")
    fresh_u = f_uniform / (f_uniform + F.col("lam"))
    # f_i = B*lam/S  =>  f_i/(f_i + lam) = B/(B + S) for every page
    fresh_p = b / (b + F.col("s_total"))
    per_host = (
        base.crossJoin(F.broadcast(totals))
        .select(
            "host",
            "lam",
            fresh_u.alias("fresh_uniform"),
            fresh_p.alias("fresh_proportional"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.round(F.sum("lam"), 6).alias("sum_lam"),
            F.round(F.avg("fresh_uniform"), 6).alias("avg_u"),
            F.round(F.min("fresh_uniform"), 6).alias("min_u"),
            F.round(F.avg("fresh_proportional"), 6).alias("avg_p"),
            F.round(F.min("fresh_proportional"), 6).alias("min_p"),
        )
    )
    # fan the two policies out of the SAME per-host rows (array
    # explode), not a union of two selects over the same lineage —
    # a union re-executes the whole aggregation tree per branch
    fan = F.explode(
        F.array(
            F.struct(
                F.lit("uniform").alias("policy"),
                F.col("avg_u").alias("avg_freshness"),
                F.col("min_u").alias("min_freshness"),
            ),
            F.struct(
                F.lit("proportional").alias("policy"),
                F.col("avg_p").alias("avg_freshness"),
                F.col("min_p").alias("min_freshness"),
            ),
        )
    )
    return per_host.select("host", "n_urls", "sum_lam", fan.alias("_e")).select(
        F.col("_e.policy").alias("policy"),
        "host",
        "n_urls",
        "sum_lam",
        F.col("_e.avg_freshness").alias("avg_freshness"),
        F.col("_e.min_freshness").alias("min_freshness"),
    )


def retention_plan(
    snapshots: DataFrame,
    keep_last: int = 7,
    keep_weekly: int = 4,
    keep_monthly: int = 6,
) -> DataFrame:
    """Grandfather-father-son retention over crawl snapshots / WARC
    segment generations / seen-set compactions: keep the newest
    ``keep_last`` outright, the newest snapshot of each of the last
    ``keep_weekly`` calendar weeks, the newest of each of the last
    ``keep_monthly`` months; expire the rest.  A 10^10-URL crawl's
    storage bill is mostly history — this is the standard dial between
    "can diff against yesterday" and "can afford the bucket".

    Windows only: a recency row_number, per-week / per-month winner
    flags (max ts within the truncated bucket), and dense_rank over
    buckets for the "last M" cut.  The global windows are single-
    partition BY DESIGN — the input is one row per snapshot
    (10^2-10^4 rows for years of crawling), not per URL; never point
    this at a per-URL relation.

    Returns ``(snapshot_id, ts_us, keep, reason)``, reason ∈
    {recent, weekly, monthly, expire} by first match.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    week = F.date_trunc("week", F.col("ts").cast("timestamp"))
    month = F.date_trunc("month", F.col("ts").cast("timestamp"))
    order = (F.col("_us").desc(), F.col("snapshot_id").desc())
    staged = snapshots.select(
        F.col("snapshot_id"), us.alias("_us"), week.alias("_wk"), month.alias("_mo")
    )
    w_all = Window.orderBy(*order)
    w_wk = Window.partitionBy("_wk").orderBy(*order)
    w_mo = Window.partitionBy("_mo").orderBy(*order)
    ranked = staged.select(
        "snapshot_id",
        "_us",
        F.row_number().over(w_all).alias("_recent"),
        (F.row_number().over(w_wk) == 1).alias("_wk_win"),
        (F.row_number().over(w_mo) == 1).alias("_mo_win"),
        F.dense_rank().over(Window.orderBy(F.col("_wk").desc())).alias("_wk_rank"),
        F.dense_rank().over(Window.orderBy(F.col("_mo").desc())).alias("_mo_rank"),
    )
    reason = (
        F.when(F.col("_recent") <= keep_last, F.lit("recent"))
        .when(F.col("_wk_win") & (F.col("_wk_rank") <= keep_weekly), F.lit("weekly"))
        .when(F.col("_mo_win") & (F.col("_mo_rank") <= keep_monthly), F.lit("monthly"))
        .otherwise(F.lit("expire"))
    )
    return ranked.select(
        "snapshot_id",
        F.col("_us").alias("ts_us"),
        (reason != "expire").cast("int").alias("keep"),
        reason.alias("reason"),
    )
