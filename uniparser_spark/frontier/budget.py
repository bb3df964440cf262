"""Quality-driven crawl-budget allocation — the focused-crawling loop.

The politeness scheduler (``politeness.py``) answers "how fast MAY we
fetch from host h"; this module answers "how much do we WANT to" — the
explore/exploit decision a large crawl makes every round: hosts whose
fetched pages scored well (extraction yield, cleaning survival,
LM quality) earn more of the next round's global fetch budget, while
unproven hosts keep a guaranteed exploration floor.

``allocate_budget`` is Laplace-smoothed proportional allocation:

    alloc(h) = floor( B * (sum_q(h) + K) / (total_q + K * n_hosts) )

The +K smoothing IS the exploration term — a host with zero history
still receives ~B*K/(total_q+K*H) fetches, and the advantage of a
proven host is bounded by its observed reward, not a point estimate.
(A UCB-style sqrt(ln N / n) bonus induces the same explore/exploit
shape but costs transcendental floats; the smoothed-proportional form
stays in exact integer arithmetic end-to-end, so allocations are
reproducible across engines and retries, and the driver's DuckDB
oracle re-derives them bit-for-bit.)

Scale: one map-side-combined groupBy(host) over the fetch log (narrow
(host, q) rows — page text never enters), a 1-row total broadcast,
then pure per-row integer math.  The output joins the frontier on host
— broadcastable, since hosts are ~10^7 even at a 10^10-URL frontier.

Reference scope note: the reference crawls a fixed seed list
(crawler.py:191-224) and has no budget feedback; this operator is part
of the frontier layer the north rule adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def allocate_budget(
    fetch_log: DataFrame,
    total_budget: int = 10000,
    smooth: int = 8,
) -> DataFrame:
    """Fold a round's per-fetch quality scores into per-host budget for
    the next round.

    ``fetch_log``: one row per fetched page with its host and an
    integer quality score (0..q_max — integer by contract; callers
    quantize richer scores, which also caps reward injection from any
    single page).  Output: (host, n_fetches, sum_q, share 6-dp, alloc).

    ``sum(alloc) <= total_budget`` (floor rounding); the remainder is
    the scheduler's slack.  ``alloc`` uses integer DIV so the value is
    exact — no float in the allocation path."""
    per = fetch_log.groupBy(F.col("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum("q").cast("long").alias("sum_q"),
    )
    tot = per.agg(
        F.sum("sum_q").cast("long").alias("_tq"),
        F.count(F.lit(1)).cast("long").alias("_nh"),
    )
    b, k = int(total_budget), int(smooth)
    return per.crossJoin(F.broadcast(tot)).select(
        "host",
        "n_fetches",
        "sum_q",
        F.round(
            (F.col("sum_q") + k).cast("double")
            / (F.col("_tq") + k * F.col("_nh")).cast("double"),
            6,
        ).alias("share"),
        F.expr(
            f"CAST(({b} * (sum_q + {k})) DIV (_tq + {k} * _nh) AS BIGINT)"
        ).alias("alloc"),
    )
