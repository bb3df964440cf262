"""Iceberg frontier-table adapter — the north rule's table format,
behind a probe.

The design target is an Iceberg frontier/seen table bucketed by URL
hash at 10^10-URL scale: bucketing makes every per-round
candidates-vs-seen anti-join and per-host schedule read co-partitioned
buckets (zero Exchange on the big side — measured in
tools/bucketed_join_demo.py), snapshots give resumable rounds for
free, and ``rewrite_data_files`` replaces the engine's inline seen-log
compaction with an ASYNC maintenance job off the crawl's critical
path (crawl/engine.py round loop).

The Iceberg runtime jars are not in this environment, so the adapter
is probe-gated: with the jars + a configured catalog it speaks real
Iceberg DDL/DML (``USING iceberg``, ``bucket(N, url_hash)`` partition
transform, ``writeTo().append()``, maintenance ``CALL``); without them
it degrades to the session catalog's bucketed parquet tables, which
reproduce the one property the engine's correctness and plans depend
on — hash-bucketed, co-partitioned state — so every code path here is
testable offline.  The DDL/CALL strings the Iceberg path would issue
are exposed as plain functions so the degraded tests pin them too.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

# Frontier row contract (engine/crawl round state; see
# crawl/engine.py state-layout doc): narrow scheduling columns only —
# page payloads live in records/, never in the frontier.
FRONTIER_COLUMNS = (
    ("url", "string"),
    ("url_canon", "string"),
    ("url_hash", "bigint"),
    ("host", "string"),
    ("priority", "double"),
    ("round", "int"),
)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        )
        return True
    except Exception:
        return False


def frontier_ddl(table: str, n_buckets: int = 1024) -> str:
    """The CREATE TABLE an Iceberg deployment issues for the frontier.

    ``bucket(N, url_hash)`` is the partition transform that co-locates
    each URL's rows across rounds; write.distribution-mode=hash makes
    appends cluster into those buckets without a manual repartition.
    """
    cols = ", ".join(f"{c} {t}" for c, t in FRONTIER_COLUMNS)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, url_hash)) "
        f"TBLPROPERTIES ("
        f"'write.distribution-mode'='hash', "
        f"'commit.retry.num-retries'='10', "
        f"'format-version'='2')"
    )


def compact_call(table: str) -> str:
    """The async maintenance CALL replacing inline seen-log compaction
    (crawl/engine.py compaction rounds): run from a maintenance job,
    never the crawl loop."""
    catalog = table.split(".", 1)[0] if "." in table else "spark_catalog"
    short = table.split(".", 1)[1] if "." in table else table
    return (
        f"CALL {catalog}.system.rewrite_data_files("
        f"table => '{short}', "
        "options => map('target-file-size-bytes','536870912'))"  # 512 MiB
    )


def expire_snapshots_call(table: str, retain_last: int = 10) -> str:
    """Snapshot GC: the frontier keeps ``retain_last`` resumable rounds
    (manifest.json's role in the parquet layout) and releases the rest."""
    catalog = table.split(".", 1)[0] if "." in table else "spark_catalog"
    short = table.split(".", 1)[1] if "." in table else table
    return (
        f"CALL {catalog}.system.expire_snapshots("
        f"table => '{short}', retain_last => {retain_last})"
    )


class FrontierTable:
    """Catalog-backed frontier/seen state with URL-hash bucketing.

    ``fmt`` is ``'iceberg'`` when the runtime is present (the real
    DDL/DML), else ``'builtin'``: session-catalog
    bucketed parquet tables — same co-partitioned layout, so join
    plans and tests carry over.  The API is the three verbs the crawl
    loop needs: ``create``, ``append``, ``read``.
    """

    def __init__(self, spark: SparkSession, table: str, n_buckets: int = 32):
        self.spark = spark
        self.table = table
        self.n_buckets = n_buckets
        self.fmt = "iceberg" if iceberg_available(spark) else "builtin"

    # -- lifecycle -----------------------------------------------------
    def create(self) -> None:
        if self.fmt == "iceberg":
            self.spark.sql(frontier_ddl(self.table, self.n_buckets))
            return
        # builtin: the catalog records bucketing only on a writer's
        # saveAsTable, so creation is lazy — first append bootstraps.
        # (Hive-style bucketBy carries the same zero-Exchange property;
        # tools/bucketed_join_demo.py measures it.)

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def drop(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")

    # -- I/O -------------------------------------------------------------
    def append(self, df: DataFrame) -> None:
        cols = [c for c, _ in FRONTIER_COLUMNS]
        out = df.select(*cols)
        if self.fmt == "iceberg":
            out.writeTo(self.table).append()
            return
        (
            out.write.mode("append")
            .format("parquet")
            .bucketBy(self.n_buckets, "url_hash")
            .sortBy("url_hash")
            .saveAsTable(self.table)
        )

    def read(self) -> DataFrame:
        return self.spark.table(self.table)

    # -- maintenance (Iceberg-only; builtin tables are rewritten by the
    # engine's inline compaction rounds) --------------------------------
    def compact(self) -> Optional[str]:
        sql = compact_call(self.table)
        if self.fmt == "iceberg":
            self.spark.sql(sql)
            return sql
        return None

    def expire_snapshots(self) -> Optional[str]:
        sql = expire_snapshots_call(self.table)
        if self.fmt == "iceberg":
            self.spark.sql(sql)
            return sql
        return None
