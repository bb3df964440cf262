"""IP-level network mapping for the frontier — virtual hosting and ASN.

Per-host politeness is necessary but not sufficient: many hosts resolve
to ONE server (shared hosting, CDN edges), and hammering 40 vhosts of
the same box at 1 req/s each is still 40 req/s against one machine.
Production crawlers therefore budget at (at least) two more levels:
the resolved IP, and the autonomous system that announces it.  This
module models both Spark-first:

- :func:`assign_hosting_ips` — a deterministic DNS stand-in: most
  hosts land on a small set of shared provider IPs, the rest get a
  dedicated address derived from the host name.  (In production this
  column comes from the resolver log; the downstream operators only
  contract on ``(host, ip24)``.)
- :func:`tag_hosts_with_asn` — an IP -> ASN *range join* done the
  scale way: both sides are mapped to coarse prefix buckets (ranges
  explode to every bucket they overlap) so the join is a hash
  equi-join on the bucket plus a residual range filter, instead of a
  theta ``BETWEEN`` join (which Spark executes as
  BroadcastNestedLoopJoin — O(hosts x ranges) comparisons and a
  single-threaded build at cluster scale).  With announced-prefix
  tables (~1M CIDRs) the exploded bucket side stays tiny relative to
  the host side, and the equi-join shuffles narrow (bucket, ip) rows
  only.
- :func:`shared_ip_budget` — split one per-IP fetch budget exactly
  (integer quotient + lexicographic remainder) across the co-hosted
  hosts, so the sum over a cohort never exceeds the server budget.

Addresses are modeled as 24-bit integers ("ip24") — enough space for
realistic collision behavior at test scale while keeping every value
exactly representable in both engines; widening to 32/128-bit only
changes constants.

Cross-engine determinism: md5-derived integers only (DuckDB reproduces
them nibble-by-nibble), no floats anywhere.

Reference scope: the reference crawls one page at a time with no
frontier (``crawler.py:191-224``); the IP/ASN layer is part of the
web-scale frontier the north rule adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

#: 24-bit address space.
IP_SPACE = 1 << 24

#: hosting model constants (documented contract, mirrored by oracles):
#: hosts whose provider bucket (md5, 1 byte) is < SHARED_CUTOFF sit on
#: one of N_PROVIDERS shared IPs; the rest get a dedicated address.
SHARED_CUTOFF = 192
N_PROVIDERS = 24

#: fetches per IP per politeness window, split by shared_ip_budget.
IP_BUDGET = 60


def _hex24(prefix: str, col: Column) -> Column:
    """First 6 hex nibbles of md5('<prefix>:' || col) as a 24-bit int.

    F.conv stays in whole-stage codegen; DuckDB mirrors it with
    per-nibble ascii arithmetic on the same digest.
    """
    h = F.md5(F.concat(F.lit(prefix), F.lit(":"), col.cast("string")))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("long")


def _hex_byte(col: Column) -> Column:
    """First hex byte (2 nibbles) of md5('prov:' || col), in [0,256)."""
    h = F.md5(F.concat(F.lit("prov:"), col.cast("string")))
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int")


def assign_hosting_ips(hosts: DataFrame) -> DataFrame:
    """Deterministic resolver stand-in: (host) -> (host, ip24, shared).

    A host's provider byte p = md5-byte('prov', host) decides its fate:
    p < SHARED_CUTOFF -> shared hosting on provider p % N_PROVIDERS's
    IP (the realistic mode: most of the web is on a few providers),
    else a dedicated IP derived from the host name itself.

    Pure projection — no shuffle, no Python; composes with any
    downstream scan pushdown.
    """
    host = F.col("host")
    p = _hex_byte(host)
    provider_ip = _hex24("provip", (p % N_PROVIDERS).cast("string"))
    dedicated_ip = _hex24("hostip", host)
    return hosts.select(
        host.alias("host"),
        F.when(p < SHARED_CUTOFF, provider_ip)
        .otherwise(dedicated_ip)
        .alias("ip24"),
        F.when(p < SHARED_CUTOFF, F.lit(1)).otherwise(F.lit(0))
        .cast("int")
        .alias("shared"),
    )


def asn_ranges(spark: SparkSession) -> DataFrame:
    """Deterministic non-uniform ASN prefix table covering [0, IP_SPACE).

    64 md5-derived 24-bit cut points (plus 0) are sorted and
    paired into half-open ranges [ip_lo, ip_hi); asn_id is the rank of
    the range.  Non-uniform widths are the point — a range join must
    not be allowed to degenerate into ``ip // constant``.

    The table is tiny by construction (announced-prefix tables are ~1M
    rows in production — still broadcast-size next to a frontier).
    """
    bounds = (
        spark.range(64)
        .select(_hex24("asnb", F.col("id")).alias("ip_lo"))
        .union(spark.range(1).select(F.lit(0).cast("long").alias("ip_lo")))
        .distinct()
    )
    w = Window.orderBy("ip_lo")
    return bounds.select(
        F.row_number().over(w).alias("asn_id"),
        F.col("ip_lo"),
        F.lead("ip_lo", 1, IP_SPACE).over(w).alias("ip_hi"),
    )


def tag_hosts_with_asn(hosts_with_ip: DataFrame, ranges: DataFrame) -> DataFrame:
    """Range-join each host's ip24 into its ASN range — bucketed.

    The scale pattern: pick a prefix width (bucket = ip >> 12),
    explode every range to the buckets it overlaps (a range spanning k
    buckets becomes k rows — Σk ≈ n_buckets + n_ranges, NOT a cross
    product), then hash-equi-join hosts to ranges on the bucket and
    keep the rows where ip_lo <= ip < ip_hi.  Catalyst turns the naive
    ``hosts JOIN ranges ON ip BETWEEN lo AND hi`` into a broadcast
    NESTED LOOP (every host row compared against every range); the
    bucketed form is a plain shuffled/broadcast hash join whose probe
    side never fans out.

    Output: (host, ip24, shared, asn_id, ip_lo, ip_hi).  Exactly one
    row per host (ranges partition the space).
    """
    exploded = ranges.select(
        "asn_id",
        "ip_lo",
        "ip_hi",
        F.explode(
            F.sequence(
                F.shiftright(F.col("ip_lo"), 12),
                F.shiftright(F.col("ip_hi") - 1, 12),
            )
        ).alias("bucket"),
    )
    probe = hosts_with_ip.withColumn(
        "bucket", F.shiftright(F.col("ip24"), 12)
    )
    return (
        probe.join(F.broadcast(exploded), "bucket")
        .filter((F.col("ip_lo") <= F.col("ip24")) & (F.col("ip24") < F.col("ip_hi")))
        .select("host", "ip24", "shared", "asn_id", "ip_lo", "ip_hi")
    )


def shared_ip_budget(hosts_with_ip: DataFrame) -> DataFrame:
    """Split a per-IP fetch budget exactly across its co-hosted hosts.

    Each IP gets IP_BUDGET fetches per politeness window, shared by its
    n_cohosted hosts: every host gets the integer quotient and the
    first (budget % n) hosts in host order get one extra — sum over
    the cohort == IP_BUDGET exactly, no float
    rounding to audit.  Hosts that would round to 0 still get their
    quotient (0) — the scheduler skips them this window, which is the
    correct behavior against a saturated server.

    One shuffle on ip24 (the window); rows are (host, ip) — narrow.
    """
    w = Window.partitionBy("ip24")
    wo = Window.partitionBy("ip24").orderBy("host")
    n = F.count(F.lit(1)).over(w)
    rk = F.row_number().over(wo)
    return hosts_with_ip.select(
        "host",
        "ip24",
        n.cast("int").alias("n_cohosted"),
        (
            F.floor(F.lit(IP_BUDGET) / n)
            + F.when(rk <= F.lit(IP_BUDGET) % n, 1).otherwise(0)
        )
        .cast("int")
        .alias("host_rate"),
    )
