"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, sorted column
names, per-column type CLASS, and an order-insensitive value
fingerprint (rows stringified with repr, sorted).

The DuckDB side is fetched via ``fetch_arrow_table()`` — the same path
the driver hashes — so type-representation divergence the old
``fetchall()`` comparison was blind to (DuckDB HUGEINT/DECIMAL from an
un-cast integer SUM exports as ``decimal128(38,0)``; ``Decimal(1605) ==
1605`` is True in Python, but the driver's hash sees decimal-vs-int64)
now fails locally: any decimal column in the oracle's Arrow schema, or
any Spark-vs-oracle type-class mismatch (int / float / decimal / str /
bool / ts / date / list / binary), is a FAIL even when values agree.
Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from decimal import Decimal

import duckdb
import pyarrow as pa

sys.path.insert(0, ".")


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(_norm(row[i]) for i in order))
    out.sort(key=repr)
    return out


def _norm(v):
    if isinstance(v, Decimal):
        # Only reachable when the type-class check already failed; keep
        # the value comparison meaningful for the error message.
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        return float(v)
    if isinstance(v, int):
        return int(v)
    return v


def _arrow_class(t: pa.DataType) -> str:
    """Coarse type class for driver-hash parity (width-insensitive)."""
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + _arrow_class(t.value_type) + ">"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def _spark_class(dt: str) -> str:
    dt = dt.strip().lower()
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("tinyint", "smallint", "int", "bigint", "integer", "long"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt == "boolean":
        return "bool"
    if dt in ("string", "varchar"):
        return "str"
    if dt.startswith("timestamp"):
        return "ts"
    if dt == "date":
        return "date"
    if dt == "binary":
        return "binary"
    if dt.startswith("array<"):
        return "list<" + _spark_class(dt[6:-1]) + ">"
    if dt in ("void", "null"):
        return "null"
    return dt


def _type_diffs(s_types: dict, d_types: dict) -> list[str]:
    """Human-readable per-column type-class mismatches (sorted names)."""
    diffs = []
    for c in sorted(set(s_types) | set(d_types)):
        sc = _spark_class(s_types.get(c, "<missing>"))
        dc = _arrow_class(d_types[c]) if c in d_types else "<missing>"
        if dc == "null" or sc == "null":
            continue  # all-NULL column on one side — class unknowable
        if sc != dc:
            diffs.append(f"{c}: spark={sc} duck={dc}")
    return diffs


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per suite table of *sf_dir*."""
    from uniparser_spark.suite import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def check(spark, con, fn, oracle: str, sf_dir: str) -> str | None:
    """None when query *fn* matches *oracle* on DuckDB (columns, type
    classes, row count, order-insensitive values); else why not."""
    try:
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_types = dict(sdf.dtypes)
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as err:  # noqa: BLE001
        return f"spark error: {err}"
    try:
        tbl = con.execute(oracle).fetch_arrow_table()
        d_cols = tbl.schema.names
        d_types = {f.name: f.type for f in tbl.schema}
        d_data = [col.to_pylist() for col in tbl.columns]
        d_rows = list(zip(*d_data)) if d_data else []
    except Exception as err:  # noqa: BLE001
        return f"duckdb error: {err}"
    dec_cols = [c for c, t in d_types.items() if pa.types.is_decimal(t)]
    if dec_cols:
        return (
            f"oracle decimal/hugeint columns {dec_cols} "
            "(the Arrow-path hash diverges — CAST to BIGINT/DOUBLE)"
        )
    if sorted(s_cols) != sorted(d_cols):
        return f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}"
    tdiffs = _type_diffs(s_types, d_types)
    if tdiffs:
        return f"type-class mismatch: {tdiffs}"
    if len(s_rows) != len(d_rows):
        return f"rowcount spark={len(s_rows)} duck={len(d_rows)}"
    cs, cd = canon(s_rows, s_cols), canon(d_rows, d_cols)
    if cs != cd:
        bad = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
        return f"value mismatch, first diffs: {bad}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod
    from uniparser_spark.engine.session import get_spark

    spark = get_spark()
    con = oracle_connection(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        reason = check(spark, con, fn, oracles[name], sf_dir)
        if reason:
            print(f"FAIL {name}: {reason}")
            n_fail += 1
        else:
            print(f"pass {name}: match ({time.monotonic() - t0:.1f}s)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
