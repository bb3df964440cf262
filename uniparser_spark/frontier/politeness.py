"""Per-host politeness + priority scheduling as DataFrame operators.

Reference behavior: ``set_frequency(host, n, interval)`` gates downloads
with a token bucket of n requests per interval seconds
(parsers.py:1508-1513, 1582-1592; timing contract
test_parsers.py:1326-1383).  In the round-based engine one scheduling
round ≈ one interval tick, so the frequency contract becomes a
deterministic per-round batch-size cap: host budget = n (from the
frequency/robots table) URLs per round, FIFO within a host by
(priority desc, depth, parent, list_index) — the reference's
``__request__`` list order.

Skew: a hot host (Zipf head) concentrates its pending URLs in one
window partition.  ``schedule_batch`` therefore pre-trims per
(host, salt) group — each salted group keeps only ``budget`` rows, so
the exact per-host ranking that follows sees at most salt_buckets ×
budget rows per host instead of the host's whole backlog.  Correctness
is unaffected: any row dropped by the pre-trim ranks below ``budget``
rows of its own (host, salt) group, hence below ≥budget rows of the
host.  Deferred rows stay pending for later rounds.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

def host_order():
    """Scheduling order within a host — reference FIFO list order
    (crawler.py:177-189): higher priority first, then shallower depth,
    then discovery order within the parent's __request__ list."""
    return [
        F.col("priority").desc(),
        F.col("depth").asc(),
        F.col("discovered_round").asc(),
        F.col("parent_url").asc_nulls_first(),
        F.col("list_index").asc(),
        F.col("url_canon").asc(),
    ]


def schedule_batch(
    pending: DataFrame,
    budgets: Optional[DataFrame] = None,
    default_budget: int = 1000,
    salt_buckets: int = 16,
) -> DataFrame:
    """Rank pending URLs per host and mark the fetch batch.

    pending must carry (url_canon, host, priority, depth,
    discovered_round, parent_url, list_index).  ``budgets`` is a small
    (host, budget) table — robots crawl-delay divided into the round
    interval — broadcast-joined; hosts without an entry get
    ``default_budget``.

    Returns pending + ``scheduled`` boolean.  Callers split on it; the
    deferred remainder carries over to the next round.
    """
    if budgets is not None:
        pending = pending.join(F.broadcast(budgets), "host", "left")
        budget_col = F.coalesce(F.col("budget"), F.lit(default_budget))
    else:
        budget_col = F.lit(default_budget)
    pending = pending.withColumn("_budget", budget_col).drop("budget")

    order = host_order()
    # phase 1: salted pre-trim bounds the exact window's input per host
    salted = Window.partitionBy("host", F.pmod(F.xxhash64("url_canon"), F.lit(salt_buckets))).orderBy(*order)
    pre = pending.withColumn("_salt_rank", F.row_number().over(salted))
    survivors = pre.filter(F.col("_salt_rank") <= F.col("_budget"))
    trimmed = pre.filter(F.col("_salt_rank") > F.col("_budget")).withColumn(
        "scheduled", F.lit(False)
    )

    # phase 2: exact per-host ranking over the bounded survivor set
    host_window = Window.partitionBy("host").orderBy(*order)
    ranked = survivors.withColumn("_host_rank", F.row_number().over(host_window))
    decided = ranked.withColumn("scheduled", F.col("_host_rank") <= F.col("_budget"))

    clean = [c for c in pending.columns if not c.startswith("_")]
    return decided.select(*clean, "scheduled").unionByName(trimmed.select(*clean, "scheduled"))


def adaptive_delays(
    fetch_log: DataFrame,
    round_seconds: int = 60,
) -> DataFrame:
    """Latency-adaptive politeness: derive each host's crawl delay from
    its OBSERVED response times instead of a fixed default — the
    standard courtesy heuristic (delay proportional to server response
    time, e.g. Nutch's adaptive fetch delay): a server answering in
    40 ms can absorb a faster poll than one taking 4 s, and a host that
    slows down under load automatically sheds crawl pressure next
    round.

    delay_ms  = clamp(2 × p50(latency), min, max)
    budget    = round_seconds·1000 DIV delay_ms   (token-bucket refill
                per scheduling round — feeds ``schedule_batch`` as its
                budgets side, the same seam robots crawl-delay uses)

    Exact median (Spark ``percentile`` == DuckDB ``quantile_cont``,
    linear interpolation; 4-dp round before the clamp so both engines
    agree bit-for-bit), explicit FLOOR for the budget (Spark's
    double→long cast truncates, DuckDB's rounds — floor is the one
    spelling both engines share) so allocations are retry-reproducible.
    Scale shape: one map-side-combinable groupBy over the narrow
    (host, latency) log — output is O(hosts) rows, broadcastable into
    the frontier join."""
    p50 = F.round(F.percentile(F.col("latency_ms"), F.lit(0.5)), 4)
    return (
        fetch_log.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            p50.alias("p50_ms"),
        )
        .select(
            "host",
            "n_obs",
            "p50_ms",
            F.least(
                F.greatest(
                    F.round(F.col("p50_ms") * 2, 4),
                    F.lit(200.0),
                ),
                F.lit(10_000.0),
            ).alias("delay_ms"),
        )
        .select(
            "host",
            "n_obs",
            "p50_ms",
            "delay_ms",
            F.floor(F.lit(round_seconds * 1000) / F.col("delay_ms"))
            .cast("long").alias("budget"),
        )
    )


def politeness_audit(fetch_log: DataFrame, delays: DataFrame) -> DataFrame:
    """Compliance audit of an executed crawl against per-host
    crawl-delay contracts: did consecutive fetches to a host ever
    arrive closer than its delay?  This is the operator that VERIFIES
    the scheduler (and any third-party fetch tier) kept the politeness
    budget — the audit side of :func:`schedule_batch`.

    Inputs: the fetch log ``(host, ts)`` (timestamps as integer
    microseconds — integer arithmetic end-to-end, same convention as
    sessionize) and a ``(host, delay_us)`` contract table.  Output one
    row per host: ``(host, n_fetches, n_gaps, n_violations, min_gap_us,
    delay_us)``; hosts with a single fetch have no gaps and audit
    clean.

    Scale shape: ONE Exchange — lag() and the closing groupBy(host)
    share the (host) partitioning, so the per-gap flags never
    re-shuffle (superset-grouping-key device, same as sessionize);
    the contract table joins in by broadcast.
    """
    w = Window.partitionBy("host").orderBy("ts")
    gaps = (
        fetch_log.join(F.broadcast(delays), "host", "left")
        .select(
            F.col("host"),
            F.col("delay_us"),
            (F.col("ts") - F.lag("ts").over(w)).alias("gap_us"),
        )
    )
    return gaps.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.count("gap_us").alias("n_gaps"),
        F.sum(
            F.when(F.col("gap_us") < F.col("delay_us"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("delay_us").alias("delay_us"),
    )


def aimd_rates(outcomes: DataFrame, base_rate: int = 8, cap: int = 32) -> DataFrame:
    """AIMD per-host crawl-rate control: fold each host's per-round
    fetch outcomes (ok/error) through additive-increase /
    multiplicative-decrease — ok rounds add 1 up to ``cap``, error
    rounds halve down to 1 (TCP congestion control transplanted to
    politeness, which is where crawlers got it from).

    The fold is a genuine non-linear recurrence (a window can't
    express the halving), so it runs as ``F.aggregate`` over the
    host's round-ordered outcome array — all-integer, all-codegen,
    and an engine running the same fold (DuckDB ``list_reduce``)
    reproduces it bit-for-bit.  One shuffle on host; the array is
    |rounds| ints per host (politeness windows are short — this is
    per-scheduling-epoch state, not unbounded history).

    Output: (host, n_rounds, n_errs, final_rate).
    """
    per_host = outcomes.groupBy(F.col("host")).agg(
        F.count(F.lit(1)).cast("int").alias("n_rounds"),
        F.sum(
            F.when(F.col("ok").cast("int") == 1, 0).otherwise(1)
        ).cast("int").alias("n_errs"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("round").cast("int").alias("r"),
                        F.col("ok").cast("int").alias("ok"),
                    )
                )
            ),
            lambda x: x["ok"],
        ).alias("moves"),
    )
    folded = F.aggregate(
        F.col("moves"),
        F.lit(base_rate),
        lambda acc, ok: F.when(
            ok == 1, F.least(F.lit(cap), acc + 1)
        ).otherwise(F.greatest(F.lit(1), F.shiftright(acc, 1))),
    )
    return per_host.select(
        "host",
        "n_rounds",
        "n_errs",
        folded.cast("int").alias("final_rate"),
    )


def fairness_report(df: DataFrame, weight_col: Optional[str] = None) -> DataFrame:
    """Jain fairness index of the crawl budget across hosts:
    ``J = (Σx)² / (n·Σx²)`` over per-key totals — 1.0 when every host
    gets an equal share, → 1/n when one host eats the budget.

    A politeness scheduler can be per-host correct and still globally
    unfair (retry storms, priority inversion, a hot sitemap flooding
    one lane); J is the one-number regression test ops dashboards
    track, next to the max-share line that names the offender.

    Shape: one map-side-combined groupBy(key) then a single global
    aggregate of three doubles — no sort, no window.  Returns ONE row
    ``(n_keys, total, jain_index, max_share, top_key)``: the index,
    the largest per-key share, and its key (equal-weight ties resolve
    to the lexicographically largest key — max_by over (x, k), a
    deterministic total order), all shares/index rounded to 6 dp.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    per = df.groupBy(F.col("host").alias("k")).agg(
        F.sum(w).cast("double").alias("x")
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("x").cast("long").alias("total"),
        F.round(
            (F.sum("x") * F.sum("x"))
            / (F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))),
            6,
        ).alias("jain_index"),
        F.round(F.max("x") / F.sum("x"), 6).alias("max_share"),
        F.max_by("k", F.struct(F.col("x"), F.col("k"))).alias("top_key"),
    )


def frontier_backlog(df: DataFrame, capacity_per_round: int = 6) -> DataFrame:
    """Per-host frontier queue evolution under a fixed politeness
    capacity — the Lindley waiting-line recursion
    ``B_r = max(0, B_{r-1} + arrivals_r − capacity)`` computed WITHOUT
    iteration, via its prefix closed form
    ``B_r = cumX_r − min(0, min_{j≤r} cumX_j)`` with
    ``X = arrivals − capacity``.

    This answers the capacity question a politeness budget creates:
    with at most C fetches per host per round, which hosts' discovery
    rates outrun service (backlog grows without bound → raise C, shard
    the host, or shed load) and which merely burst (backlog returns to
    0)?  The recursion looks inherently sequential; the prefix-min
    form makes it two windows over ONE (host) Exchange — running sum
    and running min share the sort, exactly the sessionize/
    failure_episodes plan contract, so a 10^7-host log is one shuffle
    of (host, round, int) rows.

    Returns per (host, round): ``(host, round, arrivals, served,
    backlog, saturated)`` — served = arrivals + B_{r-1} − B_r (work
    conservation, = capacity whenever the queue stays nonempty),
    saturated = 1 iff the round ends with work still queued.
    """
    C = int(capacity_per_round)
    w = Window.partitionBy("host").orderBy(F.col("round").asc())
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x = F.col("arrivals").cast("long") - F.lit(C)
    cum = F.sum(x).over(run)
    staged = df.select(
        F.col("host"),
        F.col("round").cast("long").alias("round"),
        F.col("arrivals").cast("long").alias("arrivals"),
        (cum - F.least(F.lit(0), F.min(cum).over(run))).alias("backlog"),
    )
    prev = F.coalesce(
        F.lag("backlog").over(
            Window.partitionBy("host").orderBy(F.col("round").asc())
        ),
        F.lit(0),
    )
    return staged.select(
        "host",
        "round",
        "arrivals",
        (F.col("arrivals") + prev - F.col("backlog")).alias("served"),
        "backlog",
        (F.col("backlog") > 0).cast("int").alias("saturated"),
    )


def effective_budgets(
    budgets: DataFrame,
    outages: Optional[DataFrame] = None,
    robots_policies: Optional[DataFrame] = None,
) -> DataFrame:
    """Compose the round's (host, budget) table with operational
    health before :func:`schedule_batch` sees it: a host still dark at
    the end of the fetch log (``failure_episodes`` row with
    recovered=0 — the whole host is down, per-URL retries just burn
    budget) or whose robots fetch policy is ``disallow_all`` (RFC 9309
    unreachable rule, :func:`~uniparser_spark.frontier.robots.
    robots_fetch_policy`) gets budget 0 this round; everyone else
    passes through unchanged.

    Both health relations are per-host aggregates — tiny, broadcast;
    the composition is one left join + a codegen CASE, so the
    scheduler's plan shape is untouched.
    """
    blocked = None
    if outages is not None:
        blocked = (
            outages.filter(F.col("recovered") == 0).select("host").distinct()
        )
    if robots_policies is not None:
        dis = (
            robots_policies.filter(F.col("policy") == "disallow_all")
            .select("host")
            .distinct()
        )
        blocked = dis if blocked is None else blocked.unionByName(dis).distinct()
    if blocked is None:
        return budgets
    return budgets.join(
        F.broadcast(blocked.withColumn("_blk", F.lit(1))), "host", "left"
    ).select(
        "host",
        F.when(F.col("_blk").isNotNull(), F.lit(0))
        .otherwise(F.col("budget"))
        .cast("int")
        .alias("budget"),
    )
