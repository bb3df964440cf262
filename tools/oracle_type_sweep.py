"""Sweep every oracle's DuckDB *Arrow* schema for driver-hash hazards.

The driver's correctness gate hashes values fetched over the Arrow
path.  DuckDB types an un-cast integer ``SUM`` as HUGEINT, which
exports as ``decimal128(38,0)`` — value-equal under ``fetchall()``
(``Decimal(1605) == 1605``) but hash-divergent from Spark's ``bigint``
under the driver's comparison.  Same for bare numeric literals
(``0.0`` → ``DECIMAL(2,1)``).  This sweep runs each oracle on DuckDB
only (no Spark) and reports any decimal/hugeint column so the class is
caught locally before a driver row goes red.  Usage:

    python tools/oracle_type_sweep.py [sf_dir]
"""

from __future__ import annotations

import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, ".")

from tools.check_oracle import oracle_connection  # noqa: E402


def decimal_columns(con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Column names in *sql*'s Arrow schema that export as decimal."""
    tbl = con.execute(sql).fetch_arrow_table()
    return [
        f.name
        for f in tbl.schema
        if pa.types.is_decimal(f.type)
    ]


def sweep(sf_dir: str, only: set[str] | None = None) -> dict[str, list[str]]:
    import __spark_entry__ as entrymod

    con = oracle_connection(sf_dir)
    bad: dict[str, list[str]] = {}
    for name, sql in entrymod.oracle_sql().items():
        if only and name not in only:
            continue
        cols = decimal_columns(con, sql)
        if cols:
            bad[name] = cols
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    bad = sweep(sf_dir, set(sys.argv[2:]) or None)
    for name, cols in sorted(bad.items()):
        print(f"DECIMAL {name}: {cols}")
    print(f"== {len(bad)} oracles with decimal/hugeint columns ==")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
