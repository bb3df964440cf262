"""The Arrow boundaries between Python rows and Spark frames.

One Arrow row runner for the row-wise Python kernels, and one builder
for the frames the driver makes from its own Python rows.

Many operators cross into Python for work no JVM expression can do —
parse a page's DOM, decode an archive segment, md5 a document's
shingles — and each walks its input one row at a time, emitting zero
or more rows per input row.  :func:`map_rows` is that boundary written
once: one ``mapInPandas`` whose Python side zips each Arrow batch's
columns into rows, calls the kernel per row, and rebuilds one pandas
frame typed from the output schema.

Integer fields use pandas' nullable integer dtypes, so a ``None`` in a
``long`` column stays a null instead of turning the column float64 (a
value such as 2**53 + 1 would round on the way through).  Every other
field is left to pandas' inference, which keeps ``timestamp`` values
tz-aware and strings, binaries, arrays and structs as Python objects.

:func:`local_frame` is the driver-rows boundary: seed lists, rule
tables, word lists and empty state frames become one ``pyarrow.Table``
typed from the Spark schema, which Spark turns into a local relation in
the JVM.  ``spark.createDataFrame(<Python list>)`` would instead pickle
the rows through Python tasks and start a second Python worker pool.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Union

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

_INT_DTYPES = {"byte": "Int8", "short": "Int16", "integer": "Int32", "long": "Int64"}


def map_rows(
    df: DataFrame,
    schema: Union[StructType, str],
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """Run ``fn(*row)`` over every row of ``df``'s columns (in column
    order) and return the rows it yields as a DataFrame of ``schema``.

    ``fn`` returns zero or more output tuples in ``schema`` field order.
    ``schema`` is a ``StructType`` or a DDL string.  No shuffle: one
    Arrow-batched ``mapInPandas`` over ``df``."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.names
    dtypes = [_INT_DTYPES.get(f.dataType.typeName()) for f in schema.fields]
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = [r for row in zip(*(batch[c] for c in cols)) for r in fn(*row)]
            yield pd.DataFrame(
                {
                    name: pd.Series([r[i] for r in out], dtype=dtype)
                    for i, (name, dtype) in enumerate(zip(names, dtypes))
                }
            )

    return df.mapInPandas(run, schema=schema)


def local_frame(
    spark: SparkSession,
    rows: Iterable[tuple],
    schema: Union[StructType, str],
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a DataFrame of
    ``schema``, built in the JVM from one Arrow table: no Python task
    runs, and collecting it runs no Spark job.

    ``schema`` is a ``StructType`` or a DDL string.  A ``None`` in a
    non-nullable field raises ``ValueError``, as the list path's
    verifier does; Arrow alone does not check it."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(arrow)
    for field, col in zip(schema.fields, cols):
        if not field.nullable and any(v is None for v in col):
            raise ValueError(f"field {field.name}: not nullable, but got None")
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
