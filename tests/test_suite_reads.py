"""suite.t / suite.tp read metadata: each table file version's schema
and scan partition count are worked out once, and a rewritten table is
read with its new schema."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_plan_shape import SF_A as SF  # the sf0.001 test tables

from uniparser_spark import suite

SF_TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "nation", "orders")


def _write(sf_dir, as_dir: bool, table: pa.Table) -> None:
    path = os.path.join(sf_dir, "x.parquet")
    if as_dir:
        os.makedirs(path, exist_ok=True)
        path = os.path.join(path, "part-0.parquet")
    pq.write_table(table, path)


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "dir"])
def test_rewritten_table_reads_its_new_schema(spark, tmp_path, as_dir):
    sf_dir = str(tmp_path)
    _write(sf_dir, as_dir, pa.table({"a": pa.array([1, 2], pa.int64())}))
    assert suite.t(spark, sf_dir, "x").columns == ["a"]
    assert suite.t(spark, sf_dir, "x").columns == ["a"]  # the remembered schema

    _write(sf_dir, as_dir, pa.table({"b": ["x"], "c": pa.array([1.5], pa.float64())}))
    df = suite.t(spark, sf_dir, "x")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("b", "string"), ("c", "double"),
    ]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_tp_repartitions_a_one_split_table(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write(sf_dir, False, pa.table({"a": pa.array(range(100), pa.int64())}))
    target = spark.sparkContext.defaultParallelism
    assert suite.t(spark, sf_dir, "x").rdd.getNumPartitions() == 1
    for _ in range(2):  # planned, then remembered
        assert suite.tp(spark, sf_dir, "x").rdd.getNumPartitions() == target


def test_remembered_read_runs_no_inference_job(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write(sf_dir, False, pa.table({"a": pa.array([1], pa.int64())}))
    sc = spark.sparkContext
    jobs = []
    try:
        for i in range(2):
            group = f"suite_reads_{i}"
            sc.setJobGroup(group, group)
            suite.t(spark, sf_dir, "x")
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs[0] > 0 and jobs[1] == 0, jobs


@pytest.mark.skipif(not os.path.isdir(SF), reason="testdata missing")
@pytest.mark.parametrize("name", SF_TABLES)
def test_schema_is_what_spark_infers(spark, name):
    inferred = spark.read.parquet(f"{SF}/{name}.parquet").schema
    for _ in range(2):  # inferred, then read with the remembered schema
        assert suite.t(spark, SF, name).schema == inferred
