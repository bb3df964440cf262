"""Write-layout pruning audit (sources/layout.py): exact file
envelopes under simulated clustered vs hash-ordered writes, and the
prune decision a parquet reader would make from footer stats alone."""

from uniparser_spark.sources.layout import layout_file_stats, pruning_audit


def _docs(spark):
    rows = [(i, "abcd"[i // 2]) for i in range(8)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_clustered_layout_prunes_point_predicate(spark):
    out = pruning_audit(
        _docs(spark), predicate_value="b", file_rows=2,
    ).collect()
    by_layout = {}
    for r in out:
        by_layout.setdefault(r["layout"], []).append(r)
    # both layouts cut 8 rows into 4 exact 2-row files
    for layout, files in by_layout.items():
        assert len(files) == 4, layout
        assert all(f["n_rows"] == 2 for f in files)
        assert all(f["f_min"] <= f["f_max"] for f in files)
    # clustered: each lang occupies exactly one file -> reader skips
    # 3 of 4 files for lang='b'
    clustered = sorted(by_layout["clustered"], key=lambda r: r["file_id"])
    assert [f["contains"] for f in clustered] == [0, 1, 0, 0]
    assert [f["f_min"] for f in clustered] == ["a", "b", "c", "d"]
    # hashed: the md5 smear never beats the clustered layout
    hashed_touch = sum(f["contains"] for f in by_layout["hashed"])
    assert hashed_touch >= 1


def test_layout_file_stats_last_file_partial(spark):
    from pyspark.sql import functions as F

    df = _docs(spark).limit(7)
    files = layout_file_stats(
        df, [F.col("lang"), F.col("doc_id")], "clustered", file_rows=3,
    ).orderBy("file_id").collect()
    assert [f["n_rows"] for f in files] == [3, 3, 1]
    assert sum(f["n_rows"] for f in files) == 7
    assert files[0]["f_min"] == "a" and files[0]["f_max"] == "b"
    assert files[2]["f_min"] == "d" == files[2]["f_max"]


def test_compaction_plan_binning_and_passthrough(spark):
    """Largest-first running-total cuts at the target; >= target files
    pass through ungrouped; group totals stay near target."""
    from uniparser_spark.sources.layout import compaction_plan

    rows = [
        ("p", "a", 100), ("p", "b", 60), ("p", "c", 50),
        ("p", "d", 30), ("p", "e", 200),  # e already compact
        ("q", "f", 10),
    ]
    df = spark.createDataFrame(rows, "partition string, file string, size_bytes long")
    got = {r["file"]: r for r in compaction_plan(df, target_bytes=128).collect()}
    # order in p: a(100) cum0 g0, b(60) cum100 g0, c(50) cum160 g1, d(30) cum210 g1
    assert [got[f]["group_id"] for f in "abcd"] == [0, 0, 1, 1]
    assert all(got[f]["already_compact"] == 0 for f in "abcdf")
    assert got["e"]["group_id"] is None and got["e"]["already_compact"] == 1
    assert got["f"]["group_id"] == 0
