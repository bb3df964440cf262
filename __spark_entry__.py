"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship compiled-rule extraction over the
sf0.001 documents table.  ``queries()`` and ``oracle_sql()`` expose the
suite registry of ``uniparser_spark/suite.py``: every query is declared
there with ``@query(oracle_sql)``, so both dicts have the same keys, in
declaration order, and each query's DuckDB oracle sits beside it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from uniparser_spark.suite import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the compiled uniparser rule chain (re → getitem → join)
    fused into one mapInPandas pass over the sf0.001 documents table."""
    return QUERIES["rule_first3"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
