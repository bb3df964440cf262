#!/usr/bin/env python3
"""Benchmark harness: headline queries + crawl throughput, one JSON line.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_CRAWL_PAGES   detail pages for the crawl bench (default 100000)

Usage:
  python bench.py               # full suite + crawl bench
  python bench.py --crawl-only  # just the crawl job (scaling runs)

Output: ONE JSON line
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "crawl": {"urls": N, "wall_sec": s, "urls_per_sec": r, "rounds": k},
   "cpus": N}

The headline `value` is the total wall seconds of the query suite; the
north-rule throughput (frontier URLs scheduled+parsed/sec) is reported
under `crawl.urls_per_sec` and summarized across parallelism levels in
BENCH.md by tools/scaling_bench.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def run_queries(spark, sf_dir: str) -> tuple:
    from uniparser_spark.suite import QUERIES

    # one untimed warmup pass of the FIRST query: the very first job of
    # a fresh JVM pays session init + codegen/JIT (measured ~4-5 s that
    # belongs to the JVM, not the query).  Same practice as the crawl
    # bench's warmup crawl; every timed number below is a warm
    # measurement of the query itself.
    first = next(iter(QUERIES.values()))
    first(spark, sf_dir).write.mode("overwrite").format("noop").save()
    # the r5 gate rotation put a streaming query first, which leaves the
    # batch scan/codegen/Arrow paths cold for the early suite rows
    # (measured: linear_scores 4.8 s cold vs 1.8 s warm at suite
    # position 3) — warm one representative batch query as well
    QUERIES["pricing_summary"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    timings = {}
    for name, fn in QUERIES.items():
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        # noop sink: full evaluation of every column, nothing collected
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.monotonic() - t0, 3)

    # stall guard: a VM-neighbor pause during one query inflates that
    # single number 10-20x (observed: two adjacent ~1 s queries recorded
    # at 21-22 s while the calibrations at both ends were clean).  Any
    # query > max(3 s, 5x suite median) is re-timed once and the better
    # of the two runs kept; the re-timed set is reported so the record
    # shows what was corrected.
    vals = sorted(timings.values())
    median = vals[len(vals) // 2]
    threshold = max(3.0, 5 * median)
    retimed = {}
    for name, t in list(timings.items()):
        if t > threshold:
            t0 = time.monotonic()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            again = round(time.monotonic() - t0, 3)
            if again < t:
                timings[name] = again
                retimed[name] = {"first": t, "second": again}
    return timings, retimed


def run_crawl(spark, n_pages: int) -> dict:
    from uniparser_spark.crawl.engine import CrawlEngine
    from uniparser_spark.testgen import generate_pages, seed_urls, storage_json

    n_hosts = 32
    # tmpfs-backed state: the benchmark measures compute/shuffle scaling,
    # not the sandbox VM's disk write-back jitter (which showed >2×
    # run-to-run variance on /tmp)
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    base_dir = tempfile.mkdtemp(prefix="bench_crawl_", dir=shm)
    try:
        # materialize the page corpus as parquet first (untimed input
        # prep): the engine's fetch join then scans a real columnar
        # table with pushdown/pruning, as it would against Common Crawl.
        # Fixed 128-way RANGE layout sorted by url — the Iceberg
        # sort-order a production pages table carries — so row-group
        # min/max stats actually prune the seed round's In-filtered
        # fetch (an unsorted layout forces a full 2 GB decompress to
        # find the ~500 list pages), and the INPUT is identical at every
        # parallelism level (fair N vs 4N comparison).
        pages_path = os.path.join(base_dir, "pages")
        generate_pages(
            spark, n_hosts=n_hosts, n_details=n_pages, partitions=128
        ).repartitionByRange(128, "url").sortWithinPartitions("url").write.mode(
            "overwrite"
        ).parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        seeds = seed_urls(n_hosts, n_pages)

        def once(tag: str, budget: int = 10**9) -> dict:
            state_dir = os.path.join(base_dir, tag)
            eng = CrawlEngine(
                spark,
                pages,
                storage_json(n_hosts),
                state_dir,
                default_budget=budget,
            )
            calib = cpu_calibration(50_000)  # per-run box-speed marker
            t0 = time.monotonic()
            eng.seed(seeds)
            stats = eng.run(max_rounds=40)
            wall = time.monotonic() - t0
            urls = sum(s.get("scheduled", 0) for s in stats)
            # free the tmpfs state immediately: accumulated state dirs
            # on /dev/shm measurably degrade later repeats in-JVM
            shutil.rmtree(state_dir, ignore_errors=True)
            return {
                "urls": urls,
                "wall_sec": round(wall, 3),
                "urls_per_sec": round(urls / wall, 1),
                "rounds": len(stats),
                # quarter-size calibration scaled ×4 to the standard unit
                "calib_sec": round(calib * 4, 4),
            }

        # first pass warms python workers + JVM JIT; then best-of-K
        # timed runs (same job, fresh state dir each) — this sandbox VM
        # shows ±10-30% run-to-run variance (shared memory bandwidth,
        # staged JIT), so a single sample under-reports capability
        once("warmup")
        n_runs = int(os.environ.get("BENCH_CRAWL_RUNS", "3"))
        runs = [once(f"timed{i}") for i in range(n_runs)]
        # congestion guard: if the per-run calibrations disagree by
        # >1.4x the samples mix box regimes (the r3 official-bench
        # failure mode), and a >1.5x throughput spread means neighbor
        # contention the single-core calib can't see (memory bandwidth)
        # hit some samples — take up to 2 extra samples either way so
        # the median has a chance to land inside one regime
        extra = 0
        while extra < 2 and (
            max(r["calib_sec"] for r in runs)
            > 1.4 * min(r["calib_sec"] for r in runs)
            or max(r["urls_per_sec"] for r in runs)
            > 1.5 * min(r["urls_per_sec"] for r in runs)
        ):
            runs.append(once(f"retry{extra}"))
            extra += 1
        # headline = the MEDIAN run (robust to this VM's +-10-30% noise,
        # not upward-biased); best-of kept as a secondary field
        ordered = sorted(runs, key=lambda r: r["urls_per_sec"])
        best = dict(ordered[(len(ordered) - 1) // 2])  # lower median
        best["best_urls_per_sec"] = ordered[-1]["urls_per_sec"]
        best["all_runs_urls_per_sec"] = [r["urls_per_sec"] for r in runs]
        best["all_runs_calib_sec"] = [r["calib_sec"] for r in runs]
        # politeness-BOUND variant: a per-host budget that actually binds
        # (Zipf head host needs many rounds), so the ranking/deferral
        # shuffles are in the measured path — the trivial-budget
        # short-circuit is NOT exercising them above.  Skipped in
        # scaling runs (BENCH_POLITENESS=0): the efficiency metric uses
        # the unbound job.
        if os.environ.get("BENCH_POLITENESS", "1") == "1":
            budget = max(500, n_pages // 25)
            best["politeness_bound"] = once("polite", budget=budget) | {"budget": budget}
        return best
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


def run_skew(spark, rows: int = 2_000_000, budget: int = 100) -> dict:
    """Skew regime for the north rule's 'skew handled explicitly':
    schedule_batch (the per-host politeness ranking — the ONE operator
    that groups by host) over a synthetic frontier where one host owns
    30% of all URLs (Zipf-head pathology), vs a uniform 256-host
    frontier, vs the same skewed frontier with salting disabled.

    The fetch/extract stages are row-parallel and host-agnostic by
    design, so this isolates the only skew-sensitive shuffle.  The
    binding budget makes the salted pre-trim the live path.  Claim:
    salted degradation (skew wall / uniform wall) stays small; the
    unsalted column shows what the salt is saving."""
    import time as _t

    from pyspark.sql import functions as F

    from uniparser_spark.frontier.politeness import schedule_batch

    def frontier(skewed: bool):
        base = spark.range(0, rows, 1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        if skewed:
            host = F.when(F.col("id") % 10 < 3, F.lit(0)).otherwise(F.col("id") % 253 + 1)
        else:
            host = F.col("id") % 256
        return base.select(
            F.concat(F.lit("h"), host.cast("string"), F.lit(".org")).alias("host"),
            F.concat(F.lit("https://h"), host.cast("string"), F.lit(".org/p/"), F.col("id").cast("string")).alias("url_canon"),
            (F.col("id") % 3).cast("int").alias("priority"),
            (F.col("id") % 5).cast("int").alias("depth"),
            F.lit(0).alias("discovered_round"),
            F.lit(None).cast("string").alias("parent_url"),
            (F.col("id") % 100).cast("int").alias("list_index"),
        )

    def once(df, salt_buckets: int) -> float:
        t0 = _t.monotonic()
        schedule_batch(df, default_budget=budget, salt_buckets=salt_buckets).write.mode(
            "overwrite"
        ).format("noop").save()
        return round(_t.monotonic() - t0, 2)

    def timed(df, salt_buckets: int) -> float:
        # best-of-2: single samples on this shared VM carry +-30% noise,
        # larger than the skew effect being measured
        return min(once(df, salt_buckets) for _ in range(2))

    once(frontier(False), 16)  # warmup
    wall_uniform = timed(frontier(False), 16)
    wall_skew_salted = timed(frontier(True), 16)
    wall_skew_unsalted = timed(frontier(True), 1)
    return {
        "frontier_rows": rows,
        "budget": budget,
        "hot_host_share": 0.3,
        "wall_uniform_sec": wall_uniform,
        "wall_skew_salted_sec": wall_skew_salted,
        "wall_skew_unsalted_sec": wall_skew_unsalted,
        "degradation_salted": round(wall_skew_salted / wall_uniform, 2),
        "degradation_unsalted": round(wall_skew_unsalted / wall_uniform, 2),
    }


def cpu_calibration(iters: int = 200_000) -> float:
    """Single-core md5-chain seconds — a box-speed marker embedded in
    every bench record.  This shared VM shows hour-scale 1.5-3× speed
    swings from neighbor contention (BENCH.md round-3 note) that are
    invisible in load average; recording the calibration with the
    measurement makes any two runs comparable (normalize by the ratio)
    instead of silently conflating engine changes with box weather."""
    import hashlib
    import time as _t

    h = b"x" * 1000
    t0 = _t.monotonic()
    for _ in range(iters):
        h = hashlib.md5(h).digest()
    return round(_t.monotonic() - t0, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("BENCH_CRAWL_PAGES", "100000"))
    crawl_only = "--crawl-only" in sys.argv

    from uniparser_spark.engine.session import get_spark

    extra = {}
    if os.path.isdir("/dev/shm"):
        local_dir = tempfile.mkdtemp(prefix="spark_local_", dir="/dev/shm")
        extra["spark.local.dir"] = local_dir
    calib_start = cpu_calibration()
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus, **extra)
    try:
        timings, retimed = ({}, {}) if crawl_only else run_queries(spark, sf_dir)
        crawl = run_crawl(spark, n_pages)
        skew = (
            run_skew(spark)
            if not crawl_only and os.environ.get("BENCH_SKEW", "1") == "1"
            else None
        )
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        out = {
            "metric": "suite_wall_sec",
            "value": round(sum(timings.values()) + crawl["wall_sec"], 3),
            "unit": "sec",
            "queries": timings,
            "n_queries": len(timings),
            # size-invariant companion: the suite GROWS every round (41
            # queries in r2 -> 85 in r3), so raw wall is not comparable
            # across rounds
            "sec_per_query": round(
                sum(timings.values()) / max(1, len(timings)), 3
            ),
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "crawl": crawl,
            "cpus": cpus,
            # single-core box-speed markers (see cpu_calibration docstring)
            # bracketing the run: compare across runs (and against each
            # other) to separate engine changes from box weather — a
            # within-run swing means the wall numbers mix regimes
            "cpu_calib_sec_start": calib_start,
            "cpu_calib_sec_end": cpu_calibration(),
        }
        if retimed:
            out["retimed_queries"] = retimed
        if skew is not None:
            out["skew"] = skew
        print(json.dumps(out))
    finally:
        spark.stop()
        if "spark.local.dir" in extra:
            shutil.rmtree(extra["spark.local.dir"], ignore_errors=True)


if __name__ == "__main__":
    main()
