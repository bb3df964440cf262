"""suite_mix: one closed-loop client running 7 suite queries back to
back, each into a noop sink, over freshly written sf tables.

The untimed first pass collects every query and checks it against its
DuckDB oracle twin (``suite.ORACLES``) with ``tools/check_oracle.py``'s
canonicalization; it also warms the JVM and the Python workers.  The
timed passes then rerun the same queries in the same order.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from typing import Dict, List, Optional

from pyspark.sql import functions as F

from .micro import layer_metrics, parse_layers
from .spans import JobCounter, NullTracer, patched
from .sysinfo import cpu_counters, net_of_steal

# one query per family and rule shape: CSS, XPath, JSON and XML rules,
# page analysis, dedup with its connected-components graph pass, frontier
MIX = (
    "rule_css rule_xpath rule_json rule_xml content_extract dedup_clusters "
    "robots_filter"
).split()
TABLES = ("documents", "events", "orders")
SCALES = {"full": {"sf": 0.01, "sample": 100}, "tiny": {"sf": 0.001, "sample": 20}}
# nominal warm pass wall on a 4-core box: a run makes as many timed
# passes as fit in its window at that wall, at least one.  A fixed count,
# not a deadline, so every run's passes sit at the same point of the
# JVM's warm-up curve.
PASS_S = 6.0


def query_order(seed: int) -> List[str]:
    """The mix rotated by the seed: every query runs once per pass."""
    k = seed % len(MIX)
    return MIX[k:] + MIX[:k]


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def check_query(spark, con, name: str, sf_dir: str) -> Optional[str]:
    """None when the Spark query matches its DuckDB oracle on columns,
    type classes, row count and the order-insensitive value fingerprint;
    else why not."""
    import pyarrow as pa

    from tools.check_oracle import _type_diffs, canon
    from uniparser_spark.suite import ORACLES, QUERIES

    try:
        sdf = QUERIES[name](spark, sf_dir)
        s_cols, s_types = sdf.columns, dict(sdf.dtypes)
        s_rows = [tuple(r) for r in sdf.collect()]
        tbl = con.execute(ORACLES[name]).fetch_arrow_table()
    except Exception as err:  # noqa: BLE001 - a failing query is a result
        return f"{type(err).__name__}: {err}"[:300]
    d_cols = tbl.schema.names
    d_types = {f.name: f.type for f in tbl.schema}
    d_rows = list(zip(*[c.to_pylist() for c in tbl.columns]))
    if any(pa.types.is_decimal(t) for t in d_types.values()):
        return "oracle has decimal columns"
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    diffs = _type_diffs(s_types, d_types)
    if diffs:
        return f"type classes differ: {diffs}"
    if len(s_rows) != len(d_rows):
        return f"rows {len(s_rows)} != {len(d_rows)}"
    if canon(s_rows, s_cols) != canon(d_rows, d_cols):
        return "values differ"
    return None


def timed_pass(spark, order: List[str], sf_dir: str, tracer=None,
               jobs: Optional[JobCounter] = None) -> Dict[str, dict]:
    """Every query once: build the DataFrame, then run it into a noop sink."""
    from contextlib import nullcontext

    from uniparser_spark.suite import QUERIES

    tracer = tracer or NullTracer()
    out = {}
    for name in order:
        rec = {"error": None}
        t0 = time.perf_counter()
        try:
            with jobs.group(f"query-{name}") if jobs else nullcontext():
                with tracer.span("suite.query", query=name):
                    with tracer.span("suite.build"):
                        df = QUERIES[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("suite.exec"):
                        df.write.mode("overwrite").format("noop").save()
        except Exception as err:  # noqa: BLE001 - counted as a failed query
            rec["error"] = f"{type(err).__name__}: {err}"[:300]
        else:
            rec["build_s"] = t1 - t0
            rec["exec_s"] = time.perf_counter() - t1
        rec["wall_s"] = time.perf_counter() - t0
        out[name] = rec
    return out


def net_pass(spark, order: List[str], sf_dir: str, **kwargs) -> Dict[str, dict]:
    """:func:`timed_pass`, each query's wall also given as ``net_wall_s``:
    scaled as :func:`net_of_steal` scales the whole pass."""
    before = cpu_counters()
    out = timed_pass(spark, order, sf_dir, **kwargs)
    share = net_of_steal(1.0, before, cpu_counters())
    for rec in out.values():
        rec["net_wall_s"] = rec["wall_s"] * share
    return out


def run(spark, ctx, name: str, scale: str) -> dict:
    from .suite_data import write_tables

    params = SCALES[scale]
    tracer = ctx.tracer
    sf_dir = os.path.join(ctx.run_dir, f"sf{params['sf']}")
    t0 = time.perf_counter()
    with tracer.span("testgen.corpus"):
        write_tables(sf_dir, params["sf"])
    corpus_s = time.perf_counter() - t0

    order = query_order(ctx.seed)
    t0 = time.perf_counter()
    with tracer.span("setup.warmup"):
        con = oracle_connection(sf_dir)
        mismatches = {q: check_query(spark, con, q, sf_dir) for q in order}
        con.close()
    warmup_s = time.perf_counter() - t0
    setup_end = cpu_counters()

    n_passes = max(1, int(ctx.seconds // PASS_S))
    passes = [net_pass(spark, order, sf_dir) for _ in range(n_passes)]

    oracle_fails = [q for q, why in mismatches.items() if why]
    run_errors = sum(1 for p in passes for r in p.values() if r["error"])
    attempted = len(order) * (1 + len(passes))
    failed = len(oracle_fails) + run_errors
    walls = [r["net_wall_s"] for p in passes for r in p.values() if not r["error"]]
    pass_sums = [sum(r["net_wall_s"] for r in p.values()) for p in passes]
    out = {
        "setup": {"corpus_s": corpus_s, "warmup_s": warmup_s},
        "setup_end": setup_end,
        "end_to_end": {
            "throughput_per_s": len(walls) / sum(walls),
            "latency_p50_s": statistics.median(walls),
            "ok_ratio": (attempted - failed) / attempted,
        },
        # the end-to-end metrics under their suite-specific names
        "workload_metrics": {
            "suite_s": statistics.median(pass_sums),
            "query_p50_s": statistics.median(walls),
            "query_fail_ratio": failed / attempted,
        },
        "samples": {"order": order, "passes": passes, "oracle": mismatches},
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
    }
    if not tracer.enabled:
        return out

    # ------------------------------------------------------ traced pass
    import uniparser_spark.suite as suite_mod
    from uniparser_spark import config
    from uniparser_spark.engine.extract import extract_pages

    calls = []

    def capture(fn):
        def wrapper(df, storage, *args, **kwargs):
            calls.append((df, storage, args, kwargs))
            with tracer.span("extract.extract_pages"):
                return fn(df, storage, *args, **kwargs)

        return wrapper

    jobs = JobCounter(spark)
    with tracer.span("suite.traced_pass") as pass_span, patched(suite_mod, "extract_pages", capture):
        traced = net_pass(spark, order, sf_dir, tracer=tracer, jobs=jobs)
    job_counts = jobs.jobs()

    pages, sample = 0, []
    per_call = math.ceil(params["sample"] / max(1, len(calls)))
    with tracer.span("extract.noop"):
        for df, storage, args, kwargs in calls:
            extract_pages(df, storage, *args, **kwargs).write.mode("overwrite").format("noop").save()
    noop_s = tracer.total("extract.noop")
    for df, storage, args, kwargs in calls:
        storage_json = storage if isinstance(storage, str) else config.json_dumps(storage)
        url_col, text_col = kwargs.get("url_col", "url"), kwargs.get("text_col", "text")
        pages += df.count()
        rows = df.select(url_col, text_col).orderBy(
            F.xxhash64(F.col(url_col), F.lit(ctx.seed))
        ).limit(per_call).collect()
        sample += [(storage_json, url, body) for url, body in rows]

    micro = parse_layers(sample, tracer)
    query_spans = tracer.named("suite.query", pass_span)
    traced_walls = [r["net_wall_s"] for r in traced.values() if not r["error"]]
    out["layers"] = {
        **{f"suite.{s['query']}_s": tracer.duration(s) for s in query_spans},
        "suite.build_s": tracer.total("suite.build", pass_span),
        "suite.exec_s": tracer.total("suite.exec", pass_span),
        "suite.jobs": sum(job_counts.values()),
        "extract.pages": pages,
        "extract.noop_s": noop_s,
        "extract.fetch_sink_s": 0.0,
        "extract.parallel_efficiency": pages / noop_s / (ctx.nproc * micro["parse_one_pages_per_s"]),
        "trace.overhead_ratio": (
            out["end_to_end"]["throughput_per_s"] / (len(traced_walls) / sum(traced_walls)) - 1
        ),
        **layer_metrics(micro),
    }
    out["micro"] = micro
    out["samples"]["traced_pass"] = {"queries": traced, "jobs": job_counts,
                                     "extract_calls": len(calls)}
    return out
