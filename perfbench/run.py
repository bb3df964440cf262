#!/usr/bin/env python3
"""Layered benchmark for uniparser_spark.

    python3 perfbench/run.py --workload crawl_detail --seed 1 --seconds 10 --trace 0

Workloads: crawl_detail, crawl_polite, suite_mix (see perfbench/README.md).
Spark runs as ``local[N]``, N = the CPUs this process may use.  All
state, Spark scratch and temp files live under ``.perfbench/`` in the
checkout and are removed at exit, except ``records.jsonl`` (one full
record per run, appended) and, for traced runs, the span dump.

Output: a full JSON record on one line, then as the last line
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``).  The exit code is 0 when the run completed, whether or
not the outputs were correct.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORKLOADS = ("crawl_detail", "crawl_polite", "suite_mix")
HEAP = "1g"  # the driver JVM's heap
# per-layer metric groups a workload never runs: reported as 0
NOT_RUN = {
    "crawl_detail": ("suite.",),
    "crawl_polite": ("suite.",),
    "suite_mix": ("crawl.", "frontier.", "state."),
}


class Context:
    def __init__(self, seed, seconds, tracer, run_dir, nproc, expected_digests):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.run_dir = run_dir
        self.nproc = nproc
        self.expected_digests = expected_digests


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: the self-test's ~200-page / sf0.001 inputs")
    p.add_argument("--arrow-batch", type=int, default=None,
                   help="spark.sql.execution.arrow.maxRecordsPerBatch for this run")
    return p.parse_args(argv)


def load_json(name: str) -> dict:
    with open(os.path.join(ROOT if name == "BENCHMARK.json" else HERE, name)) as fh:
        return json.load(fh)


def start_spark(nproc: int, run_dir: str, arrow_batch=None):
    from uniparser_spark.engine.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a heap sized for these inputs, not get_spark's 8g default, and
        # committed and touched at start: its resident size no longer
        # depends on when G1 chose to grow it, so peak_rss_mb does not
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
    }
    if arrow_batch:
        conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = str(arrow_batch)
    spark = get_spark(master=f"local[{nproc}]", app_name="perfbench",
                      shuffle_partitions=nproc, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its launcher
        proc.wait(timeout=60)


def run_workload(spark, ctx: Context, name: str, scale: str) -> dict:
    if name == "suite_mix":
        from perfbench import suite_wl

        return suite_wl.run(spark, ctx, name, scale)
    from perfbench import crawl_wl

    return crawl_wl.run(spark, ctx, name, scale)


def final_metrics(name: str, result: dict, contract: dict, trace: int) -> dict:
    if trace:
        values = dict(result["layers"])
        for metric in contract["per_layer"]:
            if metric["name"] not in values and metric["name"].startswith(NOT_RUN[name]):
                values[metric["name"]] = 0.0
        wanted = contract["per_layer"]
    else:
        values = {**result["end_to_end"], "setup_s": result["setup_s"],
                  "peak_rss_mb": result["peak_rss_mb"]}
        wanted = contract["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"{name} produced no value for {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "uniparser_spark")):
        print(f"uniparser_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    contract = load_json("BENCHMARK.json")
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work)
    # temp files of this process, its Python workers and both JVMs (the
    # launcher and Spark's) stay in the run dir
    os.environ["TMPDIR"] = run_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    import pyspark

    from perfbench import sysinfo
    from perfbench.spans import NullTracer, Tracer

    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer() if args.trace else NullTracer()
    ctx = Context(args.seed, args.seconds, tracer, run_dir, nproc,
                  load_json("expected.json")["crawl_digests"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "started_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "nproc": nproc, "cpu_model": sysinfo.cpu_model(),
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "commit": sysinfo.git_commit(ROOT), "source_sha256": sysinfo.source_digest(ROOT),
    }
    try:
        with sysinfo.RssSampler() as rss:
            record["calibration_start_s"] = sysinfo.calibration_s()
            setup_begin = sysinfo.cpu_counters()
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_spark(nproc, run_dir, args.arrow_batch)
            session_s = time.perf_counter() - t0
            try:
                record["spark_conf"] = {
                    k: spark.conf.get(k) for k in (
                        "spark.master", "spark.sql.shuffle.partitions",
                        "spark.sql.execution.arrow.maxRecordsPerBatch",
                    )
                }
                result = run_workload(spark, ctx, args.workload, args.scale)
            finally:
                t0 = time.perf_counter()
                stop_spark(spark)
                record["teardown_s"] = time.perf_counter() - t0
            record["calibration_end_s"] = sysinfo.calibration_s()
        result["setup"]["session_start_s"] = session_s
        result["setup_wall_s"] = sum(result["setup"].values())
        result["setup_s"] = sysinfo.net_of_steal(
            result["setup_wall_s"], setup_begin, result.pop("setup_end"))
        result["peak_rss_mb"] = rss.peak / 1e6
        if args.trace:
            result["layers"].update({
                "session.start_s": session_s,
                "testgen.corpus_s": result["setup"]["corpus_s"],
                "setup.warmup_s": result["setup"]["warmup_s"],
            })
            tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
        metrics = final_metrics(args.workload, result, contract, args.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record.update(result)
    record["rss_samples"] = rss.samples
    record["metrics"] = metrics
    with open(os.path.join(work, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for label, value in record.get("reanchor", ()):
        print(f"{label:<44} {value}")
    print(json.dumps(record))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
