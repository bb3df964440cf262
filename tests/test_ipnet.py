"""IP-network frontier layer: hosting model, bucketed ASN range join,
shared-IP budget split, SCD-2 page history, weighted sampling."""

from pyspark.sql import functions as F

from uniparser_spark.crawl.ipnet import (
    IP_SPACE,
    asn_ranges,
    assign_hosting_ips,
    shared_ip_budget,
    tag_hosts_with_asn,
)


def _hosts(spark, n=200):
    return spark.range(n).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".test")).alias(
            "host"
        )
    )


def test_hosting_model_deterministic_and_cohorted(spark):
    ips = assign_hosting_ips(_hosts(spark)).collect()
    again = assign_hosting_ips(_hosts(spark).repartition(7)).collect()
    assert sorted(map(tuple, ips)) == sorted(map(tuple, again))
    assert all(0 <= r["ip24"] < IP_SPACE for r in ips)
    shared = [r for r in ips if r["shared"] == 1]
    # the shared-hosting mode dominates (cutoff 192/256) and lands on
    # few distinct provider IPs -> real co-hosting cohorts exist
    assert len(shared) > len(ips) / 2
    assert len({r["ip24"] for r in shared}) <= 24
    dedicated = {r["ip24"] for r in ips if r["shared"] == 0}
    assert len(dedicated) == len(ips) - len(shared)  # no accidental overlap


def test_asn_ranges_partition_the_space(spark):
    rows = asn_ranges(spark).orderBy("asn_id").collect()
    assert rows[0]["ip_lo"] == 0
    assert rows[-1]["ip_hi"] == IP_SPACE
    for a, b in zip(rows, rows[1:]):
        assert a["ip_hi"] == b["ip_lo"]  # contiguous, half-open
        assert a["ip_lo"] < a["ip_hi"]
    # non-uniform by construction (md5 cut points, not equal widths)
    widths = {r["ip_hi"] - r["ip_lo"] for r in rows}
    assert len(widths) > len(rows) // 2


def test_bucketed_range_join_matches_naive_between(spark):
    hosts = assign_hosting_ips(_hosts(spark))
    ranges = asn_ranges(spark)
    tagged = tag_hosts_with_asn(hosts, ranges).collect()
    assert len(tagged) == 200  # exactly one range per host
    naive = {
        (r["host"], r["asn_id"])
        for r in hosts.join(
            ranges,
            (hosts.ip24 >= ranges.ip_lo) & (hosts.ip24 < ranges.ip_hi),
        ).collect()
    }
    assert {(r["host"], r["asn_id"]) for r in tagged} == naive
    for r in tagged:
        assert r["ip_lo"] <= r["ip24"] < r["ip_hi"]


def test_bucketed_join_explodes_buckets_not_cross_product(spark):
    from uniparser_spark.crawl.ipnet import asn_ranges

    ranges = asn_ranges(spark)
    n_ranges = ranges.count()
    exploded = ranges.select(
        F.explode(
            F.sequence(
                F.shiftright(F.col("ip_lo"), 12),
                F.shiftright(F.col("ip_hi") - 1, 12),
            )
        ).alias("b")
    ).count()
    # sum of per-range bucket spans ~ n_buckets + n_ranges, NOT n*m
    assert exploded <= (IP_SPACE >> 12) + n_ranges


def test_shared_ip_budget_sums_exactly(spark):
    hosts = assign_hosting_ips(_hosts(spark)).drop("shared")
    out = shared_ip_budget(hosts).collect()
    assert len(out) == 200
    by_ip = {}
    for r in out:
        by_ip.setdefault(r["ip24"], []).append(r)
    for rows in by_ip.values():
        n = rows[0]["n_cohosted"]
        assert len(rows) == n
        assert sum(r["host_rate"] for r in rows) == 60  # exact split
        rates = sorted(r["host_rate"] for r in rows)
        assert rates[-1] - rates[0] <= 1  # fair: quotient or quotient+1
        # remainder goes to the FIRST hosts in host order
        ordered = sorted(rows, key=lambda r: r["host"])
        assert [r["host_rate"] for r in ordered] == sorted(
            (r["host_rate"] for r in rows), reverse=True
        )


def test_scd2_history_intervals(spark):
    from uniparser_spark.frontier.freshness import scd2_history

    rows = [
        # url a: fp runs aa,aa,bb,aa -> 3 versions (returning to an old
        # fp starts a NEW version — SCD2, not dedup)
        ("a", 0, "aa"),
        ("a", 1, "aa"),
        ("a", 2, "bb"),
        ("a", 3, "aa"),
        # url b: fetched with a gap (rounds 0,1,5), one change at 5
        ("b", 0, "xx"),
        ("b", 1, "xx"),
        ("b", 5, "yy"),
        # url c: single observation
        ("c", 2, "zz"),
    ]
    df = spark.createDataFrame(rows, ["url_canon", "round", "content_fp"])
    out = {
        (r["url"], r["valid_from"]): r
        for r in scd2_history(df).collect()
    }
    assert len(out) == 6
    a0, a2, a3 = out[("a", 0)], out[("a", 2)], out[("a", 3)]
    assert (a0["content_fp"], a0["valid_to"], a0["n_rounds"]) == ("aa", 1, 2)
    assert (a2["content_fp"], a2["valid_to"]) == ("bb", 2)
    assert (a3["content_fp"], a3["is_current"]) == ("aa", 1)
    assert a0["is_current"] == 0 and a2["is_current"] == 0
    b0, b5 = out[("b", 0)], out[("b", 5)]
    assert (b0["valid_to"], b0["n_rounds"], b0["is_current"]) == (1, 2, 0)
    assert (b5["valid_to"], b5["is_current"]) == (5, 1)
    assert out[("c", 2)]["is_current"] == 1


def test_scd2_partition_invariant(spark):
    from uniparser_spark.frontier.freshness import scd2_history

    df = spark.range(300).select(
        F.concat(F.lit("u"), (F.col("id") % 37).cast("string")).alias(
            "url_canon"
        ),
        (F.col("id") % 8).alias("round"),
        F.md5(((F.col("id") % 37) * 10 + F.col("id") % 3).cast("string")).alias(
            "content_fp"
        ),
    ).dropDuplicates(["url_canon", "round"])
    a = scd2_history(df).collect()
    b = scd2_history(df.repartition(11)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_weighted_sample_exact_and_weight_sensitive(spark):
    from uniparser_spark.textops.mix import weighted_sample

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = weighted_sample(docs, k=50).collect()
    # exactly k per stratum, rk dense 1..k by (draw_key, doc_id)
    by_s = {}
    for r in out:
        by_s.setdefault(r["stratum"], []).append(r)
    assert set(by_s) == {"en", "de"}
    for rows in by_s.values():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, 51))
        keys = [(r["draw_key"], r["doc_id"]) for r in rows]
        assert keys == sorted(keys)
    # deterministic under repartitioning
    again = weighted_sample(docs.repartition(13), k=50).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # weight sensitivity: weight-4 docs should win far more than
    # weight-1 docs (4x odds; doc_id%4 maps 500 docs to each weight)
    won = [r["weight"] for r in out]
    assert won.count(4) > won.count(1)
