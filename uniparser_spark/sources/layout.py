"""Write-layout advisor — quantify what sort-before-write buys the scan.

At 100 TB the cheapest scan is the one that never happens: parquet
footers carry per-file (and per-row-group) min/max statistics, and a
reader prunes a file when the predicate range misses [min, max].  That
only works if the writer CLUSTERED the data — `sort(col).write` puts
each key range in few files; a hash-ordered write smears every key
across every file and the stats prune nothing.  This module measures
that effect for a candidate sort key, BEFORE committing a multi-hour
rewrite of a corpus: simulate both layouts at a given rows-per-file,
compute each file's stats envelope, and report how many files a
point predicate would touch under each.

The simulation is exact for the file boundaries a sorted/unsorted
`write` with maxRecordsPerFile would produce (global sort -> dense
row_number -> fixed-size file cuts); on an EXISTING corpus the same
audit runs over the real footer stats instead (read via the
spark_partition_id/input_file_name projection) — the comparator logic
below is layout-source-agnostic.

Scale: one global sort per audited layout (that is the thing being
priced — the audit costs one shuffle of narrow (key, id) rows, the
rewrite it advises costs a shuffle of the full corpus), then a
map-side-combined groupBy file id.  Document text never moves.

Reference scope: storage-layout economics exist only at cluster
scale; no reference counterpart.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def layout_file_stats(
    df: DataFrame,
    order_by: Sequence[Column],
    layout: str,
    file_rows: int = 64,
) -> DataFrame:
    """Per-file min/max envelope of ``lang`` under a simulated
    layout: rows are globally ordered by ``order_by`` and cut into
    files of ``file_rows`` rows.

    Output: (layout, file_id, f_min, f_max, n_rows).

    The global row_number is an unpartitioned window — the documented
    SIMULATION seam, acceptable because only narrow (stat, id) rows
    cross it and the audit targets sample-sized slices.  At production
    scale the audit does not simulate at all: it reads the real footer
    stats of the written corpus (input_file_name() + per-file agg —
    no window anywhere), and this comparator consumes those rows
    unchanged.
    """
    rn = F.row_number().over(Window.orderBy(*order_by))
    return (
        df.select(F.col("lang").alias("_v"), rn.alias("_rn"))
        .select(
            "_v",
            ((F.col("_rn") - 1) / file_rows).cast("int").alias("file_id"),
        )
        .groupBy("file_id")
        .agg(
            F.min("_v").alias("f_min"),
            F.max("_v").alias("f_max"),
            F.count(F.lit(1)).cast("int").alias("n_rows"),
        )
        .select(F.lit(layout).alias("layout"), "file_id", "f_min", "f_max", "n_rows")
    )


def pruning_audit(
    df: DataFrame,
    predicate_value,
    file_rows: int = 64,
) -> DataFrame:
    """Compare footer-stats pruning for a point predicate
    ``lang = predicate_value`` under two write layouts:

    - ``clustered``: sorted by (lang, id) — the layout
      ``df.sort(...).write`` produces;
    - ``hashed``: ordered by md5(id) — what an unsorted shuffled
      write effectively produces (worst-case smear, and exactly
      reproducible cross-engine, unlike "whatever order the scan
      emitted").

    Output, one row per (layout, file): (layout, file_id, f_min,
    f_max, n_rows, contains) — ``contains=0`` is a file the reader
    skips on stats alone.  Aggregate ``1 - avg(contains)`` per layout
    is the prune fraction the rewrite buys.
    """
    ordered = [F.col("lang"), F.col("doc_id")]
    hashed = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    stats = layout_file_stats(df, ordered, "clustered", file_rows).unionByName(
        layout_file_stats(df, hashed, "hashed", file_rows)
    )
    v = F.lit(predicate_value)
    return stats.select(
        "layout",
        "file_id",
        "f_min",
        "f_max",
        "n_rows",
        ((F.col("f_min") <= v) & (v <= F.col("f_max")))
        .cast("int")
        .alias("contains"),
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-files compaction plan: within each partition, bin the
    sub-target files into merge groups by running-total cuts.

    A long-running crawl writes thousands of small delta files per
    partition (every round's seen-set delta, WARC segment index,
    frontier update); at 10^10 URLs the NameNode/manifest pressure and
    per-file open cost dominate scan time long before data volume
    does.  The standard fix is periodic bin-pack compaction (what
    Iceberg's binpack rewrite does): group small files until the
    running total reaches the target file size, one output file per
    group.  This plans the rewrite WITHOUT reading data — input is a
    file-stats relation (from a manifest/listing), output the group
    assignment the rewrite job executes.

    Grouping is running-total binning over a deterministic order
    (size desc, then name — largest-first keeps groups near target and
    is order-stable): ``group_id = cumsum_before(size) div target``.
    Files already ≥ target pass through with ``group_id`` NULL
    (``already_compact`` = 1) — rewriting them buys nothing.

    Scale shape: ONE Exchange on the partition key; the cumulative-sum
    window and everything downstream run on it (same one-Exchange
    contract as crawl/sessions.py).  Only (partition, name, size)
    rows ever shuffle — a manifest relation, ~10^-6 of the data it
    describes.

    Returns ``(partition, file, size_bytes, group_id,
    already_compact)``; rewrite job = one task per (partition,
    group_id), reading the group's files, writing one.
    """
    part, name, size = (
        F.col("partition"), F.col("file"), F.col("size_bytes")
    )
    small = files.filter(size < target_bytes)
    w = Window.partitionBy("partition").orderBy(size.desc(), name.asc())
    cum_before = F.coalesce(
        F.sum("size_bytes").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    # integer div (not double /): byte totals can exceed 2^53 at fleet
    # manifest scale, where double division would misplace group cuts
    planned = small.select(
        part.alias("partition"),
        name.alias("file"),
        size.cast("long").alias("size_bytes"),
        cum_before.cast("long").alias("_cum"),
    ).select(
        "partition",
        "file",
        "size_bytes",
        F.expr(f"_cum div {int(target_bytes)}L").alias("group_id"),
        F.lit(0).alias("already_compact"),
    )
    big = files.filter(size >= target_bytes).select(
        part.alias("partition"),
        name.alias("file"),
        size.cast("long").alias("size_bytes"),
        F.lit(None).cast("long").alias("group_id"),
        F.lit(1).alias("already_compact"),
    )
    return planned.unionByName(big)
