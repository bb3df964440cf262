"""HLL register sketches: estimator exactness contracts, the merge
property, and agreement between the groupBy and array formulations."""

import pytest
from pyspark.sql import functions as F

from uniparser_spark.frontier.sketches import (
    hll_counts,
    hll_estimate_from_registers,
    hll_merge,
    hll_register_arrays,
)


def _vals(spark, n=4000, dups=7, mod=997):
    return spark.range(n).select(
        (F.col("id") % 2).alias("host"),
        F.concat(
            F.lit("u"), ((F.col("id") * dups) % mod).cast("string")
        ).alias("url"),
    )


def test_hll_counts_accuracy_and_audit_columns(spark):
    out = {r["key"]: r.asDict() for r in
           hll_counts(_vals(spark), "host", "url", p=8).collect()}
    for row in out.values():
        assert row["m"] == 256
        assert row["n_present"] + row["n_zero"] == 256
        # exact audit column is the true distinct count
        assert row["n_exact"] == 997
        # HLL standard error at m=256 is ~6.5%; allow 3 sigma
        assert abs(row["est"] - 997) / 997 < 0.20
        assert row["err"] == round((row["est"] - row["n_exact"]) / 997, 4)


def test_hll_merge_equals_whole(spark):
    """Element-wise-max merge of per-shard sketches must equal the
    sketch of the union — the property that lets shards/rounds/days
    compose without re-reading URLs."""
    df = _vals(spark)
    a = hll_register_arrays(df.filter(F.col("id") < 2000), p=6)
    b = hll_register_arrays(df.filter(F.col("id") >= 2000), p=6)
    merged = hll_estimate_from_registers(
        hll_merge(a.unionByName(b))
    ).orderBy("key").collect()
    whole = hll_estimate_from_registers(
        hll_register_arrays(df, p=6)
    ).orderBy("key").collect()
    assert merged == whole


def test_hll_two_formulations_agree(spark):
    """groupBy(max) scan path and the dense-array path publish the
    same statistics for every p — the scaled-integer Z makes the
    estimate independent of formulation and partitioning."""
    df = _vals(spark)
    for p in (4, 6, 10):
        counts = hll_counts(df, "host", "url", p=p, exact=False).orderBy("key")
        regs = hll_estimate_from_registers(
            hll_register_arrays(df, p=p)
        ).orderBy("key")
        assert counts.collect() == regs.collect()


def test_hll_single_value(spark):
    df = spark.createDataFrame([("h", "u")] * 5, "host string, url string")
    row = hll_counts(df, "host", "url", p=4).collect()[0]
    assert row["n_present"] == 1 and row["n_zero"] == 15
    assert row["n_exact"] == 1
    assert 0 < row["est"] < 16  # raw estimator, no linear counting


def test_hll_p_bounds():
    with pytest.raises(ValueError):
        hll_counts(None, "k", "v", p=3)
    with pytest.raises(ValueError):
        hll_counts(None, "k", "v", p=17)


def test_cms_point_estimates_and_merge(spark):
    """CMS never underestimates; element-wise-sum of two half sketches
    answers point queries identically to the full-data sketch."""
    from pyspark.sql import functions as F

    from uniparser_spark.frontier.sketches import cms_counts, cms_estimate

    rows = [("hot",)] * 50 + [(f"cold{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "host string")
    sketch = cms_counts(df, width=64)
    est = {
        r["key"]: r["est"]
        for r in cms_estimate(sketch, df, width=64).collect()
    }
    assert est["hot"] >= 50
    assert all(est[f"cold{i}"] >= 1 for i in range(20))
    # merge: half sketches sum cell-wise == full sketch (same estimates)
    idx = spark.createDataFrame(
        [(i, h) for i, (h,) in enumerate(rows)], "i int, host string"
    )
    h1 = cms_counts(idx.filter("i < 35"), width=64)
    h2 = cms_counts(idx.filter("i >= 35"), width=64)
    merged = (
        h1.unionByName(h2)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    est_m = {
        r["key"]: r["est"]
        for r in cms_estimate(merged, df, width=64).collect()
    }
    assert est_m == est
