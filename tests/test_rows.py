"""engine.rows.map_rows — the one Arrow row runner under the row-wise
Python kernels: output shape per input row, and the types each output
field comes back with."""

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from uniparser_spark.engine.rows import map_rows

SCHEMA = "id long, n int, tags array<string>, blob binary, ts timestamp"


def test_empty_input_gives_an_empty_frame_of_the_schema(spark):
    empty = spark.createDataFrame([], "id long, text string")
    out = map_rows(empty, SCHEMA, lambda i, t: [(i, 1, [t], b"", None)])
    assert out.schema == DataType.fromDDL(SCHEMA)
    assert out.collect() == []

    # rows in, none out: the batch's frame is empty but still typed
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string")
    out = map_rows(rows, SCHEMA, lambda i, t: [])
    assert out.schema == DataType.fromDDL(SCHEMA)
    assert out.collect() == []


def test_a_row_yields_zero_or_several_rows(spark):
    df = spark.createDataFrame([(0, "x"), (3, "y"), (1, "z")], "k long, s string")
    out = map_rows(df, "k long, j int, s string", lambda k, s: [(k, j, s) for j in range(k)])
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, "z"), (3, 0, "y"), (3, 1, "y"), (3, 2, "y"),
    ]


def test_nullable_long_stays_exact(spark):
    big = 2**53 + 1  # rounds to 2**53 through float64
    df = spark.createDataFrame([(1,)], "k long")
    out = map_rows(df, "v long", lambda k: [(None,), (big,), (-big,)])
    assert sorted(out.collect(), key=lambda r: (r.v is not None, r.v)) == [
        (None,), (-big,), (big,),
    ]


def test_fields_come_back_as_declared(spark):
    ts = datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone(timedelta(hours=2)))
    df = spark.createDataFrame([(1,), (2,)], "k long")

    def fn(k):
        if k == 1:
            return [(k, 7, ["a", "b"], b"\x00\xff", ts)]
        return [(k, None, None, None, None)]

    out = map_rows(df, SCHEMA, fn)
    assert out.schema == DataType.fromDDL(SCHEMA)
    got = {
        r.id: r
        for r in out.withColumn("epoch", F.col("ts").cast("long")).collect()
    }
    assert (got[1].n, got[1].tags, bytes(got[1].blob)) == (7, ["a", "b"], b"\x00\xff")
    assert got[1].epoch == int(ts.timestamp())
    assert (got[2].n, got[2].tags, got[2].blob, got[2].ts) == (None, None, None, None)
