"""One Arrow row runner for the row-wise Python kernels.

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
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Union

import pandas as pd
from pyspark.sql import DataFrame
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
