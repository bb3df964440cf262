"""SparkSession factory with the engine's standard configuration.

Settings chosen for the 100 TB design point (SURVEY.md §4):
- Arrow transport for the pandas extraction UDFs;
- session timezone pinned to UTC so TimeParser semantics are
  deterministic across JVM/Python (reference tz-fix arithmetic,
  parsers.py:938-955).

AQE (runtime coalescing + skew-join splitting for hot hosts) and
runtime bloom-filter join pushdown are on by default in Spark 4.1.2 and
are not restated here.  The bloom pushdown does not fire on the crawl's
seen-set anti-joins; the crawl's own Bloom pre-filter is
``frontier/seen.py``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref
from pathlib import Path
from typing import Optional

from pyspark.sql import SparkSession

_SHIPPED = weakref.WeakSet()  # SparkContexts that already hold the package archive


def ship_package(spark: SparkSession) -> None:
    """Make ``uniparser_spark`` importable on executors regardless of the
    driver's cwd — the local-mode equivalent of
    ``spark-submit --py-files uniparser_spark.zip``.  Once per
    SparkContext: a context that already holds the archive keeps it."""
    sc = spark.sparkContext
    if sc in _SHIPPED:
        return
    pkg_dir = Path(__file__).resolve().parent.parent
    if not pkg_dir.is_dir():
        # imported from a --py-files zip: the package is already shipped
        # (and there is no directory tree to re-archive)
        return
    zip_base = Path(tempfile.gettempdir()) / f"uniparser_spark_pyfiles_{os.getpid()}"
    archive = shutil.make_archive(str(zip_base), "zip", root_dir=pkg_dir.parent, base_dir=pkg_dir.name)
    sc.addPyFile(archive)
    _SHIPPED.add(sc)


def get_spark(
    master: Optional[str] = None,
    app_name: str = "uniparser_spark",
    shuffle_partitions: Optional[int] = None,
    **extra_conf: str,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # smaller scan splits than the 128MB default: extraction stages
        # are python-CPU-bound, so split count — not IO — sets the
        # achievable parallelism when reading page tables directly
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # page tables carry multi-KB html/text values: the default 4096-row
        # columnar batches reserve ~100MB/task and OOM wide executors
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
