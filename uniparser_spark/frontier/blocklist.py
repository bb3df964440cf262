"""Domain blocklist filtering — frontier/corpus hygiene by host suffix.

Webtext pipelines filter crawl frontiers and corpora against curated
domain lists (adult/malware/ad-tracker lists, licensing blocks).  The
match unit is the DNS label boundary: blocking ``tracker.example``
must block ``ads.tracker.example`` but NOT ``nottracker.example`` — a
substring/endswith test gets the second case wrong, so the operator
explodes each host into its label-suffix chain and equi-joins the
blocklist exactly.

Scale: blocklists are ~10^5-10^6 rows — broadcast; the host column
explodes to (labels-per-host ≈ 3-5) narrow suffix rows that die at the
broadcast join, and the per-URL re-aggregation is map-side combined on
the URL.  Nothing wide shuffles.  The longest-match winner is picked
with a portable string-max key (zero-padded length + domain), keeping
the whole operator in codegen on Spark and bit-reproducible in the
DuckDB oracle.

Reference scope note: the reference has no frontier filtering; this is
part of the crawl layer the north rule adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# registrable suffix chains are short; 3 digits of length covers any
# legal DNS name (<= 253 chars)
_KEYLEN = 3


def host_suffixes(host: Column) -> Column:
    """All label-boundary suffixes of a host, longest first:
    ``a.b.c`` -> [``a.b.c``, ``b.c``, ``c``]."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(".", F.slice(parts, i + 1, n - i)),
    )


def apply_blocklist(urls: DataFrame, blocklist: DataFrame) -> DataFrame:
    """URLs + a (domain) blocklist -> (url, host, blocked, matched).

    ``matched`` is the longest blocklisted suffix that matched (the
    most specific rule — the audit column: WHY was this URL dropped);
    NULL and ``blocked = 0`` when no suffix is listed.  Compose with
    ``.filter("blocked = 0")`` for the admission path, or keep the full
    frame for block-rate reporting per list.

    Plan shape: suffix rows LEFT-join the broadcast list, then ONE
    map-side-combined groupBy(url, host) folds each URL back to a
    single row — no join back to the base table, so the URL table is
    scanned once and shuffled once.  (The earlier inner-join +
    join-back shape re-shuffles the full URL table whenever the hit
    set outgrows a broadcast — at 10^10 URLs even a 1% block rate
    does.)"""
    # two selects: aliasing host and exploding a lambda over it in ONE
    # select trips Spark 4's lateral-column-alias resolution
    base0 = urls.select(
        F.col("url"), F.col("host")
    )
    suf = base0.select(
        "url", "host", F.explode(host_suffixes(F.col("host"))).alias("suf")
    )
    rules = (
        blocklist.select(F.col("domain").alias("suf"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    key = F.when(
        F.col("_hit").isNotNull(),
        F.concat(
            F.lpad(F.length("suf").cast("string"), _KEYLEN, "0"),
            F.lit(":"),
            F.col("suf"),
        ),
    )
    return (
        suf.join(F.broadcast(rules), "suf", "left")
        .groupBy("url", "host")
        .agg(F.max(key).alias("_k"))
        .select(
            "url",
            "host",
            F.col("_k").isNotNull().cast("int").alias("blocked"),
            F.substring(F.col("_k"), _KEYLEN + 2, 1000).alias("matched"),
        )
    )
