"""The crawl workloads: a testgen corpus crawled as a batch job, timed
from ``CrawlEngine.seed()`` until the round loop reports done.

crawl_detail  non-binding budget, Bloom gate at its default (off at this
              size): one list round, one big detail round.  Extraction
              dominates.
crawl_polite  ``default_budget`` binds on the Zipf head host and
              ``bloom_min_seen=0`` keeps the Bloom build and probe in every
              round: many small rounds, so per-round scheduling, dedup and
              driver cost dominate.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import functions as F

from .micro import layer_metrics, parse_layers
from .spans import JobCounter, NullTracer, traced_parquet_writes
from .sysinfo import cpu_counters, net_of_steal

N_HOSTS = 32
MAX_ROUNDS = 60
CORPUS_PARTITIONS = 16
STATE_KINDS = ("records", "seen", "frontier")
# nominal crawl wall after the warm-up on a 4-core box: a run makes as
# many timed crawls as fit in its window at that wall, at least one.  A
# fixed count, not a deadline, so every run's crawls sit at the same
# point of the JVM's warm-up curve.
REP_S = 12.0
DETAIL_RE = re.compile(r"^https://([^/]+)/item-(\d+)/$")


@dataclass(frozen=True)
class CrawlSpec:
    n_details: int
    budget: Optional[int] = None  # None: the engine's non-binding default
    bloom_min_seen: Optional[int] = None  # None: the engine's default gate
    warm_budget: Optional[int] = None  # budget of the untimed warm-up crawl
    warm_hosts: int = N_HOSTS  # the warm-up crawls the smallest hosts only
    warm_rounds: int = MAX_ROUNDS  # and stops after this many rounds
    sample: int = 100  # pages in the single-core parse sample


SPECS = {
    ("crawl_detail", "full"): CrawlSpec(n_details=1500, warm_hosts=8),
    ("crawl_detail", "tiny"): CrawlSpec(n_details=200, sample=20),
    # the warm-up is one whole crawl at the real budget: the crawls after
    # it run every round shape warm
    ("crawl_polite", "full"): CrawlSpec(n_details=400, budget=71, bloom_min_seen=0),
    ("crawl_polite", "tiny"): CrawlSpec(
        n_details=200, budget=20, bloom_min_seen=0, warm_budget=1, warm_rounds=1, sample=20
    ),
}


def expected_urls(n_details: int) -> List[str]:
    """Every URL the crawl must schedule: the list seeds plus each
    host's detail pages, in testgen's order."""
    from uniparser_spark.testgen import detail_url, host_name, seed_urls, zipf_counts

    details = [
        detail_url(host_name(h), k)
        for h, count in enumerate(zipf_counts(N_HOSTS, n_details))
        for k in range(count)
    ]
    return seed_urls(N_HOSTS, n_details) + details


def write_corpus(spark, n_details: int, path: str):
    """The pages table as parquet, read back.  testgen emits pages in
    (list pages, then host, k) order and each partition holds a
    contiguous slice of it, so the files are already clustered by host;
    sorting within them narrows each row group's url range."""
    from uniparser_spark.testgen import generate_pages

    generate_pages(
        spark, n_hosts=N_HOSTS, n_details=n_details, partitions=CORPUS_PARTITIONS
    ).sortWithinPartitions("url").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def crawl_once(spark, pages, storage: str, spec: CrawlSpec, state_dir: str,
               seeds: List[str], budget: Optional[int] = None, tracer=None,
               jobs: Optional[JobCounter] = None, max_rounds: int = MAX_ROUNDS):
    """One crawl, seed to done (or to ``max_rounds``).  Returns (engine,
    wall_s, round stats, n_pending at the start of each round or [] when
    untraced)."""
    from uniparser_spark.crawl.engine import CrawlEngine

    tracer = tracer or NullTracer()
    kwargs = {}
    budget = budget or spec.budget
    if budget is not None:
        kwargs["default_budget"] = budget
    if spec.bloom_min_seen is not None:
        kwargs["bloom_min_seen"] = spec.bloom_min_seen
    engine = CrawlEngine(spark, pages, storage, state_dir, **kwargs)
    pending: List[Optional[int]] = []
    rounds: List[dict] = []
    t0 = time.perf_counter()
    with tracer.span("crawl.seed"):
        engine.seed(seeds)
    for k in range(max_rounds):
        if tracer.enabled:
            pending.append(engine.read_manifest().get("n_pending"))
        with jobs.group(f"round-{k}") if jobs else nullcontext():
            with tracer.span("crawl.run_round", round=k):
                stats = engine.run_round()
        rounds.append(stats)
        if stats.get("done") or stats["scheduled"] == 0:
            break
    return engine, time.perf_counter() - t0, rounds, pending


def check_records(engine, n_details: int) -> dict:
    """Correctness of one finished crawl (run outside the timed window)."""
    rows = engine.records().select("url", "rule_name", "result", "error", "requests").collect()
    urls = [r["url"] for r in rows]
    expected = set(expected_urls(n_details))
    bad = set()
    for r in rows:
        if r["error"] is not None:
            bad.add(r["url"])
            continue
        m = DETAIL_RE.match(r["url"])
        if m:
            title = json.loads(r["result"]).get("detail", {}).get("title") if r["result"] else None
            if title != f"Item {int(m.group(2))} – synthetic page on {m.group(1)}":
                bad.add(r["url"])
    missing = expected - set(urls)
    digest = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["url"]):
        digest.update(
            "\x1f".join(
                [r["url"], r["rule_name"] or "", r["result"] or "", r["error"] or "",
                 "\x1e".join(r["requests"] or ())]
            ).encode()
            + b"\n"
        )
    return {
        "urls": len(urls),
        "expected_urls": len(expected),
        "distinct": len(set(urls)),
        "missing": len(missing),
        "unexpected": len(set(urls) - expected),
        "errors": sum(1 for r in rows if r["error"] is not None),
        "bad_pages": len(bad | missing),
        "digest": digest.hexdigest(),
    }


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def frontier_replays(spark, engine, pending: List[Optional[int]], tracer) -> dict:
    """Re-run the state layer's operators on the finished crawl's state,
    each with a noop sink: ``schedule_batch`` on every round's frontier
    the engine did not short-circuit, then Bloom build, probe,
    ``filter_new`` and the exact anti-join on the final seen union
    against every discovered URL plus as many never-seen keys."""
    from uniparser_spark.crawl.engine import FRONTIER_SCHEMA
    from uniparser_spark.frontier.politeness import schedule_batch
    from uniparser_spark.frontier.seen import BloomSeenFilter, add_url_keys

    replayed = 0
    for k, n_pending in enumerate(pending):
        # the engine's short-circuit: no per-host budgets and a default
        # budget no smaller than the backlog
        if not n_pending or engine.default_budget >= n_pending:
            continue
        frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
            str(engine.state_dir / "frontier" / f"r{k}")
        )
        with tracer.span("frontier.schedule_batch", round=k):
            _noop(schedule_batch(frontier, default_budget=engine.default_budget,
                                 salt_buckets=engine.salt_buckets))
        replayed += 1

    manifest = engine.read_manifest()
    seen = engine.seen()
    requests = engine.records().filter(F.col("requests").isNotNull()).select(
        F.explode("requests").alias("url")
    )
    known = add_url_keys(requests).select("url_hash", "url_canon", F.lit(False).alias("is_new"))
    unseen = add_url_keys(
        requests.select(F.concat("url", F.lit("?replay=1")).alias("url"))
    ).select("url_hash", "url_canon", F.lit(True).alias("is_new"))
    candidates = known.unionByName(unseen).cache()
    n_candidates = candidates.count()

    bloom = BloomSeenFilter(n_buckets=64)
    with tracer.span("frontier.bloom_build"):
        bloom_df = bloom.build(seen, expected_total=max(1, manifest["seen_total"])).cache()
        bloom_df.count()
    with tracer.span("frontier.bloom_probe"):
        _noop(bloom.probe(candidates, bloom_df))
    with tracer.span("frontier.filter_new"):
        _noop(bloom.filter_new(candidates, seen, bloom_df))
    with tracer.span("frontier.antijoin"):
        _noop(candidates.join(seen.select("url_hash"), "url_hash", "left_anti"))
    flags = bloom.probe(candidates, bloom_df).agg(
        F.sum((~F.col("maybe_seen")).cast("int")).alias("passed"),
        F.sum((F.col("maybe_seen") & F.col("is_new")).cast("int")).alias("false_pos"),
        F.sum(F.col("is_new").cast("int")).alias("new"),
    ).first()
    bloom_df.unpersist()
    candidates.unpersist()
    return {
        "schedule_batch_rounds": replayed,
        "discovered": n_candidates // 2,
        "candidates": n_candidates,
        "bloom_pass_ratio": flags["passed"] / n_candidates if n_candidates else 0.0,
        "bloom_fp_ratio": flags["false_pos"] / flags["new"] if flags["new"] else 0.0,
        # width of the seen union the last round read: one delta per
        # round since the last compaction
        "seen_deltas": manifest["round"] - int(manifest.get("seen_base", 0) or 0) + 1,
    }


def parse_sample(spark, pages, storage: str, n_details: int, size: int, seed: int):
    """(storage, url, body) for ``size`` crawled pages picked by ``seed``."""
    urls = random.Random(seed).sample(expected_urls(n_details), size)
    bodies = dict(pages.filter(F.col("url").isin(urls)).select("url", "text").collect())
    return [(storage, u, bodies[u]) for u in urls]


def run(spark, ctx, name: str, scale: str) -> dict:
    from uniparser_spark.engine.extract import extract_pages
    from uniparser_spark.testgen import host_name, seed_urls, storage_json

    spec = SPECS[(name, scale)]
    tracer = ctx.tracer
    storage = storage_json(N_HOSTS)
    seeds = seed_urls(N_HOSTS, spec.n_details)
    warm_from = host_name(N_HOSTS - spec.warm_hosts)
    warm_seeds = [u for u in seeds if u.split("/")[2] >= warm_from]
    t0 = time.perf_counter()
    with tracer.span("testgen.corpus"):
        pages = write_corpus(spark, spec.n_details, os.path.join(ctx.run_dir, "pages"))
    corpus_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    with tracer.span("setup.warmup"):
        warm_dir = os.path.join(ctx.run_dir, "warmup")
        crawl_once(spark, pages, storage, spec, warm_dir, warm_seeds, budget=spec.warm_budget,
                   max_rounds=spec.warm_rounds)
        shutil.rmtree(warm_dir)
    warmup_s = time.perf_counter() - t0
    setup_end = cpu_counters()

    reps, checks = [], []
    for _ in range(max(1, int(ctx.seconds // REP_S))):
        state_dir = os.path.join(ctx.run_dir, f"crawl{len(reps)}")
        before = cpu_counters()
        engine, wall, rounds, _ = crawl_once(spark, pages, storage, spec, state_dir, seeds)
        after = cpu_counters()
        urls = sum(s.get("scheduled", 0) for s in rounds)
        net = net_of_steal(wall, before, after)
        reps.append({"urls": urls, "wall_s": wall, "net_wall_s": net, "urls_per_s": urls / net,
                     "cpu_s": after[0] - before[0], "steal_s": after[1] - before[1],
                     "rounds": len(rounds),
                     "round_walls_s": [s.get("wall_sec") for s in rounds],
                     "state_bytes": {k: dir_bytes(str(engine.state_dir / k)) for k in STATE_KINDS}})
        checks.append(check_records(engine, spec.n_details))
        shutil.rmtree(state_dir)

    digests = {c["digest"] for c in checks}
    pinned = ctx.expected_digests.get(f"{N_HOSTS}x{spec.n_details}")
    failed = sum(c["bad_pages"] + c["unexpected"] + (c["urls"] - c["distinct"]) for c in checks)
    attempted = sum(r["urls"] for r in reps)
    correct = (
        failed == 0
        and all(c["urls"] == c["expected_urls"] == c["distinct"] for c in checks)
        and len(digests) == 1
        and (pinned is None or digests == {pinned})
    )
    walls = [r["net_wall_s"] for r in reps]
    out = {
        "setup": {"corpus_s": corpus_s, "warmup_s": warmup_s},
        "setup_end": setup_end,
        "end_to_end": {
            "throughput_per_s": attempted / sum(walls),
            "latency_p50_s": statistics.median(walls),
            "ok_ratio": (attempted - failed) / attempted,
        },
        # the end-to-end metrics under their crawl-specific names, and the
        # throughput with the steal left in
        "workload_metrics": {
            "crawl_urls_per_s": attempted / sum(walls),
            "wall_urls_per_s": attempted / sum(r["wall_s"] for r in reps),
            "page_error_ratio": failed / attempted,
            "state_mb": statistics.median(sum(r["state_bytes"].values()) for r in reps) / 1e6,
        },
        "samples": {"reps": reps, "checks": checks, "pinned_digest": pinned},
        "attempted": attempted,
        "failed": failed,
        "correct": correct,
    }
    if not tracer.enabled:
        return out

    # ------------------------------------------------------ traced rep
    jobs = JobCounter(spark)
    state_dir = os.path.join(ctx.run_dir, "traced")
    before = cpu_counters()
    with tracer.span("crawl.traced_rep") as rep_span, traced_parquet_writes(tracer):
        engine, wall, rounds, pending = crawl_once(
            spark, pages, storage, spec, state_dir, seeds, tracer=tracer, jobs=jobs
        )
    net = net_of_steal(wall, before, cpu_counters())
    traced_urls = sum(s.get("scheduled", 0) for s in rounds)
    round_spans = tracer.named("crawl.run_round", rep_span)
    per_round = []
    for span, stats in zip(round_spans, rounds):
        per_round.append({
            "round": span["round"],
            "scheduled": stats.get("scheduled", 0),
            "wall_s": tracer.duration(span),
            "engine_wall_s": stats.get("wall_sec"),
            **{f"{k}_write_s": tracer.total(f"sink.{k}", span) for k in STATE_KINDS},
        })
    job_counts = jobs.jobs()
    replays = frontier_replays(spark, engine, pending, tracer)
    with tracer.span("extract.noop"):
        _noop(extract_pages(pages.filter(F.col("url").contains("/item-")).select("url", "text"), storage))
    noop_s = tracer.total("extract.noop")
    micro = parse_layers(parse_sample(spark, pages, storage, spec.n_details, spec.sample, ctx.seed), tracer)
    shutil.rmtree(state_dir)

    round_s = [r["wall_s"] for r in per_round]
    sinks = {k: sum(r[f"{k}_write_s"] for r in per_round) for k in STATE_KINDS}
    detail_rounds = [r for r in per_round if r["round"] >= 1 and r["scheduled"]]
    detail_pages = sum(r["scheduled"] for r in detail_rounds)
    detail_records_s = sum(r["records_write_s"] for r in detail_rounds)
    scheduled = sum(s.get("scheduled", 0) for s in rounds)
    new = sum(s.get("new_candidates", 0) for s in rounds)
    last_state = reps[-1]["state_bytes"]
    out["layers"] = {
        "crawl.rounds": len(round_spans),
        "crawl.round_s_sum": sum(round_s),
        "crawl.round_s_max": max(round_s),
        "crawl.records_write_s": sinks["records"],
        "crawl.seen_write_s": sinks["seen"],
        "crawl.frontier_write_s": sinks["frontier"],
        "crawl.driver_s": sum(round_s) - sum(sinks.values()),
        "crawl.jobs_per_round": sum(job_counts.values()) / len(round_spans),
        "crawl.records_share": sinks["records"] / sum(round_s),
        "frontier.scheduled": scheduled,
        "frontier.deferred": sum(s.get("deferred", 0) for s in rounds),
        "frontier.discovered": replays["discovered"],
        "frontier.new_candidates": new,
        "frontier.fresh_ratio": new / replays["discovered"] if replays["discovered"] else 0.0,
        "frontier.schedule_batch_s": tracer.total("frontier.schedule_batch"),
        "frontier.bloom_build_s": tracer.total("frontier.bloom_build"),
        "frontier.bloom_probe_s": tracer.total("frontier.bloom_probe"),
        "frontier.filter_new_s": tracer.total("frontier.filter_new"),
        "frontier.antijoin_s": tracer.total("frontier.antijoin"),
        "frontier.bloom_pass_ratio": replays["bloom_pass_ratio"],
        "frontier.bloom_fp_ratio": replays["bloom_fp_ratio"],
        "frontier.seen_deltas": replays["seen_deltas"],
        **{f"state.{k}_mb": last_state[k] / 1e6 for k in STATE_KINDS},
        "extract.pages": spec.n_details,
        "extract.noop_s": noop_s,
        "extract.fetch_sink_s": detail_records_s - noop_s,
        "extract.parallel_efficiency": (
            detail_pages / detail_records_s / (ctx.nproc * micro["parse_one_pages_per_s"])
        ),
        "trace.overhead_ratio": out["end_to_end"]["throughput_per_s"] / (traced_urls / net) - 1,
        **layer_metrics(micro),
    }
    out["micro"] = micro
    out["samples"]["traced_rep"] = {
        "urls": traced_urls, "wall_s": wall, "net_wall_s": net, "rounds": per_round,
        "jobs": job_counts, "pending": pending, "replays": replays,
    }
    out["reanchor"] = reanchor_rows(out, per_round, micro, ctx.nproc)
    return out


def reanchor_rows(out: dict, per_round: List[dict], micro: dict, nproc: int) -> List[list]:
    """The rows of the layer table the roadmap's re-anchor baseline
    reports, from this run."""
    reps = out["samples"]["reps"]
    big = max(per_round, key=lambda r: r["scheduled"])
    urls, wall = reps[0]["urls"], statistics.median(r["wall_s"] for r in reps)
    records_rate = big["scheduled"] / big["records_write_s"]
    return [
        [f"Whole crawl ({urls:,} URLs)", f"{wall:.2f} s, {urls / wall:,.0f} urls/s"],
        [f"Largest round r{big['round']} ({big['scheduled']:,} pages)", f"{big['wall_s']:.2f} s total"],
        ["  records action (fetch + extract)",
         f"{big['records_write_s']:.2f} s ({big['records_write_s'] / big['wall_s']:.0%})"],
        ["  seen-delta write", f"{big['seen_write_s']:.2f} s"],
        ["  frontier write", f"{big['frontier_write_s']:.2f} s"],
        ["Single-core parse_one", f"{micro['parse_one_pages_per_s']:,.0f} pages/s"],
        ["  DOM build (parse_html)", f"{micro['parse_share']:.0%} of parse_one"],
        ["  selector (Element.select)", f"{micro['select_us'] / micro['parse_one_us']:.0%} of parse_one"],
        ["Records action vs ideal",
         f"{records_rate:,.0f} pages/s = {records_rate / (nproc * micro['parse_one_pages_per_s']):.0%}"
         f" of {nproc} x single-core"],
    ]
