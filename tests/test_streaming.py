"""Structured Streaming extraction: incremental micro-batches produce the
same results as the batch path, and checkpointed restarts don't
reprocess (exactly-once file-source semantics)."""

import os

from uniparser_spark.engine.extract import extract_pages
from uniparser_spark.streaming import (
    host_rate_metrics,
    read_pages_stream,
    run_to_parquet,
)
from uniparser_spark.testgen import generate_pages, storage_json


def _land_pages(spark, path, n_hosts=2, n_details=10):
    generate_pages(spark, n_hosts=n_hosts, n_details=n_details).write.mode(
        "append"
    ).parquet(path)


def test_stream_extract_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _land_pages(spark, pages_dir)

    stream = read_pages_stream(spark, pages_dir)
    assert stream.isStreaming
    q = run_to_parquet(extract_pages(stream, storage_json(2)), out_dir, ck)
    q.awaitTermination(120)

    got = {
        (r["url"], r["result"])
        for r in spark.read.parquet(out_dir).select("url", "result").collect()
    }
    want = {
        (r["url"], r["result"])
        for r in extract_pages(spark.read.parquet(pages_dir), storage_json(2))
        .select("url", "result")
        .collect()
    }
    assert got == want and len(got) > 0

    # second trigger with NEW files only: checkpoint prevents reprocessing
    _land_pages(spark, pages_dir, n_hosts=2, n_details=14)
    q2 = run_to_parquet(
        extract_pages(read_pages_stream(spark, pages_dir), storage_json(2)),
        out_dir,
        ck,
    )
    q2.awaitTermination(120)
    total = spark.read.parquet(out_dir).count()
    batch_total = extract_pages(spark.read.parquet(pages_dir), storage_json(2)).count()
    assert total == batch_total  # no duplicates from the restart


def test_host_rate_metrics_stream(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    _land_pages(spark, pages_dir, n_hosts=3, n_details=12)

    metrics = host_rate_metrics(read_pages_stream(spark, pages_dir))
    # complete mode to a memory sink: append would hold back the final
    # (still-open) watermark windows, which is all our tiny fixture has
    q = (
        metrics.writeStream.format("memory")
        .queryName("host_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM host_metrics").collect()
    assert sum(r["n_pages"] for r in rows) == 15  # 3 list + 12 detail pages
    assert all(r["host"].endswith(".example.org") for r in rows)
    hosts = {r["host"] for r in rows}
    assert len(hosts) == 3


def test_dedup_stream_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: repeats within and across
    micro-batches are dropped; state persists via the checkpoint."""
    from uniparser_spark.streaming import dedup_stream

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # batch 1: hosts 0-1 (13 pages incl. list pages)
    _land_pages(spark, pages_dir, n_hosts=2, n_details=11)
    q = run_to_parquet(
        dedup_stream(read_pages_stream(spark, pages_dir)), out_dir, ck
    )
    q.awaitTermination(120)
    first = spark.read.parquet(out_dir)
    n_first = first.count()
    assert n_first == first.select("url").distinct().count() > 0

    # batch 2: the SAME pages again (duplicates) plus nothing new
    _land_pages(spark, pages_dir, n_hosts=2, n_details=11)
    q2 = run_to_parquet(
        dedup_stream(read_pages_stream(spark, pages_dir)), out_dir, ck
    )
    q2.awaitTermination(120)
    total = spark.read.parquet(out_dir).count()
    assert total == n_first  # all repeats suppressed by state


def test_session_stream_cross_batch_and_flush(spark, tmp_path):
    """A session spanning two micro-batches is stitched by state; the
    flush sentinel closes the tail session without starting one."""
    import datetime as dt

    from uniparser_spark.streaming import run_to_parquet, session_stream

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    sec = lambda n: t0 + dt.timedelta(seconds=n)
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    f1 = [("a", sec(0), 1, 0), ("a", sec(60), 2, 0)]
    # batch 2 continues the open session (gap 60 <= 1800), then jumps
    f2 = [("a", sec(120), 3, 0), ("a", sec(9000), 4, 0),
          ("a", sec(10**7), -1, 1)]
    schema = "host string, ts timestamp, event_id long, flush int"
    for i, rows in enumerate((f1, f2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        import os
        for name in os.listdir(in_dir):
            p = os.path.join(in_dir, name)
            if os.path.getmtime(p) > 1_000_000_000 + i * 100:
                os.utime(p, (1_000_000_000 + i * 100,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = run_to_parquet(session_stream(stream), out_dir, ck)
    assert q.awaitTermination(120)
    got = sorted(
        (r["session_id"], r["n_events"], r["first_event"], r["duration_sec"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [(1, 3, 1, 120), (2, 1, 4, 0)]
