"""Extraction-health monitoring — rule drift detection over results.

Rule-driven extraction rots: sites redesign, and a CSS/regex chain that
worked yesterday starts erroring or extracting nothing.  At crawl scale
nobody reads per-page errors; the operational signal is the PER
(host, rule) error rate over a crawl window, with the dominant error
kind as the diagnosis — exactly what the engine's error-as-data
contract (``extract_pages`` emits ``error`` strings shaped
``ExceptionName: message``, engine/extract.py:102-133) makes cheap to
aggregate.

Scale shape: results narrow to ``(host, rule, error_kind)`` in the
scan projection; ONE map-side-combined groupBy builds the per-kind
counts, and totals + the dominant kind are windows over that
AGGREGATED relation (same zipf-head device as ngram_repetition) — the
result text and error messages never shuffle.

Reference scope note: the reference surfaces per-call exceptions to
the caller (uniparser/parsers.py chain execution); a corpus-level
health rollup is part of the operational layer the north rule adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def extraction_health(results: DataFrame) -> DataFrame:
    """Extraction results -> per (host, rule) health report.

    Output: ``(host, rule_name, n_pages, n_errors, err_rate,
    top_error, verdict)`` where ``top_error`` is the most frequent
    error kind (the ``ExceptionName`` prefix; ties break toward the
    lexicographically LARGER kind — struct-max semantics, identical in
    both engines; NULL when clean) and verdict ∈ healthy (err_rate <
    0.05), degraded, broken (>= 0.5).  Feed ``broken`` rows to the
    rule-maintenance queue; ``degraded`` ones to sampling review.
    """
    kind = F.when(
        F.col("error").isNotNull(),
        F.regexp_extract(F.col("error"), r"^([A-Za-z_]+)", 1),
    )
    base = results.select(
        F.regexp_extract(F.col("url"), _HOST_RE, 1).alias("host"),
        F.coalesce(F.col("rule_name"), F.lit("<none>")).alias("rule_name"),
        kind.alias("kind"),
    )
    counts = base.groupBy("host", "rule_name", "kind").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("host", "rule_name")
    # dominant error kind: max over (count, kind) structs of ERROR rows
    err_top = F.max(
        F.when(
            F.col("kind").isNotNull(),
            F.struct(F.col("c"), F.col("kind").alias("k")),
        )
    ).over(w)
    agg = (
        counts.withColumn("n_pages", F.sum("c").over(w))
        .withColumn(
            "n_errors",
            F.sum(F.when(F.col("kind").isNotNull(), F.col("c")).otherwise(0))
            .over(w),
        )
        .withColumn("_top", err_top)
        .select("host", "rule_name", "n_pages", "n_errors", "_top")
        .distinct()
    )
    rate = F.col("n_errors").cast("double") / F.col("n_pages").cast("double")
    return agg.select(
        "host",
        "rule_name",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_errors").cast("long").alias("n_errors"),
        F.round(rate, 4).alias("err_rate"),
        F.col("_top")["k"].alias("top_error"),
        F.when(rate >= 0.5, F.lit("broken"))
        .when(rate >= 0.05, F.lit("degraded"))
        .otherwise(F.lit("healthy"))
        .alias("verdict"),
    )
