#!/usr/bin/env python3
"""Evidence: bucketed state tables make the seen anti-join shuffle-free.

The crawl engine reads its seen set from plain parquet (the records
log plus compaction snapshots), which carries no bucketing metadata —
Spark plans an Exchange on BOTH sides of the candidates-vs-seen
anti-join.  A real
deployment stores the seen log as bucketed tables (Iceberg bucket
transform / Hive bucketBy): the same anti-join then plans with ZERO
Exchange (both scans report ``Bucketed: true``) — at a 10^10-row seen
set that is the difference between shuffling the whole seen log every
round and streaming co-located buckets.

Run: python tools/bucketed_join_demo.py [n_rows]
Prints wall time + Exchange count for plain-parquet vs bucketed-table
anti-joins over the same data (measured here: 2 Exchanges / 2.3 s vs
0 Exchanges / 1.1 s at 2M rows, local[8]).
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    from pyspark.sql import functions as F

    from uniparser_spark.engine.session import get_spark

    wh = tempfile.mkdtemp(prefix="wh_bucketdemo_")
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        **{
            "spark.sql.warehouse.dir": wh,
            # force the shuffle-vs-bucketed comparison (no broadcast)
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        key = F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        seen = spark.range(n).select(key, F.col("id").cast("string").alias("url_canon"))
        cand = spark.range(n // 2, n + n // 2).select(key)
        seen.write.mode("overwrite").parquet(f"{wh}/seen_plain")
        cand.write.mode("overwrite").parquet(f"{wh}/cand_plain")
        seen.write.mode("overwrite").format("parquet").bucketBy(32, "url_hash").sortBy(
            "url_hash"
        ).saveAsTable("seen_bucketed")
        cand.write.mode("overwrite").format("parquet").bucketBy(32, "url_hash").saveAsTable(
            "cand_bucketed"
        )

        def run(tag, c, s):
            t0 = time.monotonic()
            out = c.join(s.select("url_hash"), "url_hash", "left_anti")
            cnt = out.count()
            plan = out._jdf.queryExecution().executedPlan().toString()
            print(
                f"{tag}: {cnt} fresh rows, {time.monotonic() - t0:.2f}s, "
                f"Exchanges in plan: {plan.count('Exchange')}"
            )

        run("plain parquet ", spark.read.parquet(f"{wh}/cand_plain"),
            spark.read.parquet(f"{wh}/seen_plain"))
        run("bucketed table", spark.table("cand_bucketed"), spark.table("seen_bucketed"))

        # the engine's REAL state shape: a big compacted base (bucketed
        # table) + small append-only per-round deltas.  A union of
        # bucketed scans loses the bucketing property, so the right
        # plan is: anti-join candidates against the bucketed base with
        # ZERO Exchange on the big side, then against the broadcast
        # (tiny) deltas — total shuffle = 0 bytes of seen state.
        from pyspark.sql import functions as F2

        # delta overlaps the candidates' fresh range so the broadcast
        # anti-join provably filters (fresh count drops by 1000)
        delta = (
            spark.range(n, n + 1000)
            .select(F2.xxhash64(F2.col("id").cast("string")).alias("url_hash"))
        )
        delta.write.mode("overwrite").parquet(f"{wh}/delta_plain")
        t0 = time.monotonic()
        cand = spark.table("cand_bucketed")
        base = spark.table("seen_bucketed").select("url_hash")
        d = F.broadcast(spark.read.parquet(f"{wh}/delta_plain"))
        out = cand.join(base, "url_hash", "left_anti").join(d, "url_hash", "left_anti")
        cnt = out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # broadcast build is not a data-plane shuffle of the seen state;
        # count Exchange nodes that are NOT BroadcastExchange
        shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        print(
            f"base+delta     : {cnt} fresh rows, {time.monotonic() - t0:.2f}s, "
            f"non-broadcast Exchanges: {shuffles}"
        )
    finally:
        spark.stop()
        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
