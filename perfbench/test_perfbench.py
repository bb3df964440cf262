"""Self-test of the benchmark at tiny scale (~200 pages, sf0.001).

    python3 -m pytest perfbench -q

Runs each workload traced through the real command and checks that every
metric of BENCHMARK.json is emitted with its unit, that the correctness
checks pass, and that the per-layer numbers reconcile.  A last test pins
the crawl order of the benchmark's own crawl configuration to
``crawl/simulator.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import crawl_wl  # noqa: E402
from perfbench.run import WORKLOADS, final_metrics, load_json  # noqa: E402

# the round spans against the engine's own per-round clock, and the
# parse_one layers against an uninstrumented parse_one
ROUND_TOLERANCE = 0.10
PARSE_TOLERANCE = 0.25


@pytest.fixture(scope="module", params=WORKLOADS)
def traced_run(request):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", request.param, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return request.param, json.loads(lines[-2]), json.loads(lines[-1])


def test_every_metric_is_emitted_with_its_unit(traced_run):
    name, record, last = traced_run
    contract = load_json("BENCHMARK.json")
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["metrics"] == {
        m["name"]: {"value": last["metrics"][m["name"]]["value"], "unit": m["unit"]}
        for m in contract["per_layer"]
    }
    end_to_end = final_metrics(name, record, contract, trace=0)
    assert [m["name"] for m in contract["end_to_end"]] == list(end_to_end)
    assert all(v["value"] > 0 for v in end_to_end.values()), end_to_end


def test_outputs_are_correct(traced_run):
    name, record, last = traced_run
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    if name == "suite_mix":
        assert not any(record["samples"]["oracle"].values())
    else:
        checks = record["samples"]["checks"]
        for check in checks:
            assert check["urls"] == check["expected_urls"] == check["distinct"]
            assert check["errors"] == check["bad_pages"] == 0
        assert {c["digest"] for c in checks} == {record["samples"]["pinned_digest"]}


def test_layers_reconcile(traced_run):
    name, record, _ = traced_run
    micro = record["micro"]
    assert abs(micro["parts_over_parse_one"] - 1) <= PARSE_TOLERANCE, micro
    if name == "suite_mix":
        layers = record["layers"]
        walls = sum(v for k, v in layers.items() if k.startswith("suite.") and k.endswith("_s")
                    and k not in ("suite.build_s", "suite.exec_s"))
        assert layers["suite.build_s"] + layers["suite.exec_s"] <= walls
        return
    rounds = record["samples"]["traced_rep"]["rounds"]
    for r in rounds:
        sinks = r["records_write_s"] + r["seen_write_s"] + r["frontier_write_s"]
        assert sinks <= r["wall_s"]
        if r["engine_wall_s"] is not None:  # the engine times working rounds only
            assert abs(r["wall_s"] - r["engine_wall_s"]) <= ROUND_TOLERANCE * r["wall_s"] + 0.05
    layers = record["layers"]
    parts = sum(layers[f"crawl.{k}"] for k in
                ("records_write_s", "seen_write_s", "frontier_write_s", "driver_s"))
    assert parts == pytest.approx(layers["crawl.round_s_sum"])


def test_crawl_order_matches_simulator(tmp_path):
    """The benchmark's crawl (binding budget, Bloom every round) ends in
    the nested results and seen set of the reference simulator."""
    from uniparser_spark import JSONRuleStorage, testgen
    from uniparser_spark.crawl import simulate_crawl
    from uniparser_spark.engine.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    try:
        spec = crawl_wl.CrawlSpec(n_details=64, budget=3, bloom_min_seen=0)
        pages = crawl_wl.write_corpus(spark, spec.n_details, str(tmp_path / "pages"))
        storage = testgen.storage_json(crawl_wl.N_HOSTS)
        seeds = testgen.seed_urls(crawl_wl.N_HOSTS, spec.n_details)
        engine, _, rounds, _ = crawl_wl.crawl_once(
            spark, pages, storage, spec, str(tmp_path / "state"), seeds
        )
        assert len(rounds) > 3  # the budget binds
        store = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
        seen: dict = {}
        expected = [
            simulate_crawl(JSONRuleStorage(**json.loads(storage)), store, u, seen=seen)
            for u in seeds
        ]
        assert engine.assemble_results(seeds) == expected
        assert {r["url_canon"] for r in engine.seen().collect()} == set(seen)
    finally:
        spark.stop()
