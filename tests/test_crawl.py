"""End-to-end crawl: Spark BFS rounds vs the pure-Python reference
simulator — nested results and seen-set membership must match."""

import json
from contextlib import contextmanager
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from uniparser_spark import JSONRuleStorage, testgen
from uniparser_spark.crawl import CrawlEngine, simulate_crawl
from uniparser_spark.crawl import engine as crawl_engine
from uniparser_spark.urls import canonicalize_url


def _page_store(pages_df):
    return {r["url"]: r["text"] for r in pages_df.collect()}


@pytest.fixture(scope="module")
def corpus(spark):
    pages = testgen.generate_pages(spark, n_hosts=3, n_details=15).cache()
    storage_json = testgen.storage_json(3, keep_first=3)
    return pages, storage_json, _page_store(pages)


def test_crawl_matches_simulator(spark, corpus, tmp_path):
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]

    engine = CrawlEngine(spark, pages, storage_json, tmp_path / "state")
    engine.seed(seeds)
    rounds = engine.run(max_rounds=10)
    assert rounds[-1]["done"] or rounds[-1]["scheduled"] == 0
    assert len(rounds) == 3  # seeds, details, empty-finish

    got = engine.assemble_results(seeds)

    storage = JSONRuleStorage(**json.loads(storage_json))
    seen_sim: dict = {}
    expected = [simulate_crawl(storage, store, u, seen=seen_sim) for u in seeds]
    assert got == expected

    # seen-set membership identical to the simulator's
    engine_seen = {r["url_canon"] for r in engine.seen().collect()}
    assert engine_seen == set(seen_sim.keys())

    # records() reads with RECORDS_SCHEMA: the schema inference would give
    committed = [str(tmp_path / "state" / "records" / f"r{r}") for r in range(engine.read_manifest()["round"])]
    assert engine.records().schema == spark.read.parquet(*committed).schema

    # spot-check shape: nested __result__ list with extracted titles in list order
    host0 = testgen.host_name(0)
    payload = got[0]["list"]
    assert payload["__request__"] == [testgen.detail_url(host0, k) for k in range(3)]
    assert payload["__result__"] == [
        {"detail": {"title": f"Item {k} – synthetic page on {host0}"}} for k in range(3)
    ]


def test_crawl_resume_from_checkpoint(spark, corpus, tmp_path):
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    state = tmp_path / "state_resume"

    first = CrawlEngine(spark, pages, storage_json, state)
    first.seed(seeds)
    first.run_round()  # crawl only the seeds, then "crash"

    resumed = CrawlEngine(spark, pages, storage_json, state)
    assert resumed.read_manifest()["round"] == 1
    resumed.run(max_rounds=10)

    storage = JSONRuleStorage(**json.loads(storage_json))
    seen_sim: dict = {}
    expected = [simulate_crawl(storage, store, u, seen=seen_sim) for u in seeds]
    assert resumed.assemble_results(seeds) == expected
    assert {r["url_canon"] for r in resumed.seen().collect()} == set(seen_sim.keys())


class _Crash(Exception):
    """A failure injected at one crash point of the state protocol."""


@contextmanager
def _crash_after_write(kind: str, rnd: int):
    """Raise right after the ``DataFrameWriter.parquet`` write to
    ``{kind}/r{rnd}`` (``kind`` = the state dir the write targets): the
    process dies between two state writes of one round."""
    from pyspark.sql.readwriter import DataFrameWriter

    original = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        original(self, path, *args, **kwargs)
        p = Path(str(path))
        if (p.parent.name, p.name) == (kind, f"r{rnd}"):
            raise _Crash(str(path))

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = original


_UDF_FAILURE = "injected UDF failure"


def _failing_pages(pages, url: str):
    """``pages`` whose ``text`` passes through a pandas UDF that raises a
    non-data error on ``url``: every job that scans it fails."""

    @F.pandas_udf("string")
    def text_or_raise(urls: pd.Series, texts: pd.Series) -> pd.Series:
        if (urls == url).any():
            raise RuntimeError(f"{_UDF_FAILURE} on {url}")
        return texts

    return pages.withColumn("text", text_or_raise("url", "text"))


def _step(eng, step) -> None:
    if step == "round":
        eng.run_round()
    elif step == "run":
        eng.run(max_rounds=10)
    else:  # ("expire", max_age_rounds)
        eng.expire_and_requeue(max_age_rounds=step[1])


def _crawl_state(eng, seeds) -> dict:
    """What a crawl leaves behind, in comparable form (``part_id`` is
    task lineage, not state)."""
    m = eng.read_manifest()
    seen = eng.seen()
    return {
        "records": sorted(
            json.dumps(r.asDict(), sort_keys=True)
            for r in eng.records().drop("part_id").collect()
        ),
        "seen": {r["url_canon"] for r in seen.collect()},
        "seen_count": seen.count(),
        "manifest": {
            k: m.get(k) for k in ("round", "done", "n_pending", "seen_total", "seen_base")
        },
        "results": eng.assemble_results(seeds),
    }


# case -> (steps before the crash, the step that crashes, its crash
# point, the steps a fresh engine runs next, seen_compact_every).  A
# crash point (state dir, round) raises right after that state write;
# ("udf", url) runs the crashing step on pages that fail in a pandas UDF
# at url, so the round's records job fails.  The uncrashed reference
# runs the steps before and next only.  On the fixture crawl round 0
# fetches the seeds and writes frontier/r1, round 1 fetches the details
# and leaves nothing pending (so it writes no frontier), and round 2
# finds n_pending = 0.
CRASH_CASES = {
    "a-records": (["round"], "run", ("records", 1), ["run"], 64),
    "b-frontier": ([], "run", ("frontier", 1), ["run"], 64),
    "c-compaction-snapshot": (["round"], "run", ("seen", 2), ["run"], 2),
    "d-expire-seen": (["run"], ("expire", 0), ("seen", 3), [("expire", 0), "run"], 64),
    "e-records-then-expire": (["round"], "run", ("records", 1), [("expire", 100), "run"], 64),
    "f-udf-failure": (
        ["round"], "run", ("udf", testgen.detail_url(testgen.host_name(0), 0)), ["run"], 64
    ),
}


@pytest.fixture(scope="module")
def uncrashed() -> dict:
    """(steps, seen_compact_every) -> _crawl_state of the uncrashed
    reference run, shared by the crash cases that take the same steps."""
    return {}


@pytest.mark.parametrize("case", list(CRASH_CASES))
def test_crash_point_resume_matches_uncrashed(spark, corpus, tmp_path, uncrashed, case):
    """Round atomicity: a crash right after any state write, then a fresh
    engine on the same state_dir, ends in the state of a run that took
    the same steps without crashing — and in the simulator's crawl."""
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    before, crashing, (kind, at), after, compact_every = CRASH_CASES[case]

    def engine(state, pages=pages):
        return CrawlEngine(
            spark, pages, storage_json, state,
            seen_compact_every=compact_every,
        )

    eng = engine(tmp_path / "crashed")
    eng.seed(seeds)
    for step in before:
        _step(eng, step)
    if kind == "udf":
        eng = engine(tmp_path / "crashed", pages=_failing_pages(pages, at))
        with pytest.raises(Exception, match=_UDF_FAILURE):
            _step(eng, crashing)
    else:
        with pytest.raises(_Crash), _crash_after_write(kind, at):
            _step(eng, crashing)
    eng = engine(tmp_path / "crashed")
    # records() returns the committed rounds only, never the crashed one
    committed = eng.read_manifest()["round"]
    assert {r[0] for r in eng.records().select("round").distinct().collect()} == set(range(committed))
    for step in after:
        _step(eng, step)
    got = _crawl_state(eng, seeds)

    key = (repr(before + after), compact_every)
    if key not in uncrashed:
        ref = engine(tmp_path / "uncrashed")
        ref.seed(seeds)
        for step in before + after:
            _step(ref, step)
        uncrashed[key] = _crawl_state(ref, seeds)
    assert got == uncrashed[key]
    assert got["manifest"]["seen_total"] == got["seen_count"]

    storage = JSONRuleStorage(**json.loads(storage_json))
    seen_sim: dict = {}
    assert got["results"] == [simulate_crawl(storage, store, u, seen=seen_sim) for u in seeds]
    assert got["seen"] == set(seen_sim)


def test_records_before_first_commit_is_empty(spark, corpus, tmp_path):
    """Right after seed() no round is committed: records() is an empty
    frame with the columns a committed round's records carry."""
    pages, storage_json, _ = corpus
    eng = CrawlEngine(spark, pages, storage_json, tmp_path / "state_empty")
    eng.seed([testgen.list_url(testgen.host_name(0))])
    empty = eng.records()
    assert empty.count() == 0
    eng.run_round()
    recs = eng.records()
    assert recs.count() == 1
    assert [(f.name, f.dataType) for f in empty.schema] == [
        (f.name, f.dataType) for f in recs.schema
    ]


def test_crawl_jobs_per_round_pinned(spark, corpus, tmp_path):
    """Spark jobs each working round of the fixture crawl runs, counted
    in a job group: the round's two actions plus the broadcasts and AQE
    stages they split into.  Round 1 fetches detail pages only, so it is
    a leaf round; it defers nothing, so it writes no frontier and runs
    only the records action.  A change to the round's plan shows here as a
    count."""
    pages, storage_json, _ = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    pages.count()  # the cached corpus is built before any round runs
    eng = CrawlEngine(spark, pages, storage_json, tmp_path / "state_jobs")
    eng.seed(seeds)
    sc = spark.sparkContext
    jobs = []
    try:
        while True:
            group = f"test_crawl_jobs_round_{len(jobs)}"
            sc.setJobGroup(group, group)
            if eng.run_round().get("done"):
                break
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [7, 4]


def _sim_children(seeds, results) -> dict:
    """url -> the ``__request__`` children of its page, read off the
    simulator's nested results (a memoized or in-progress child is
    walked once)."""
    children: dict = {}

    def walk(url, result):
        if url in children or not isinstance(result, dict):
            return
        payload = next(iter(result.values()))
        requests = payload.get("__request__")
        if requests is None:
            children[url] = []
            return
        subs = payload["__result__"]
        if not isinstance(requests, list):
            requests, subs = [requests], [subs]
        children[url] = requests
        for child, sub in zip(requests, subs):
            walk(child, sub)

    for url, result in zip(seeds, results):
        walk(url, result)
    return children


def _budget_rounds(children: dict, seeds, budget: int) -> list:
    """(seen_total, n_pending) after each round of a breadth-first crawl
    of ``children`` that schedules at most ``budget`` URLs of a host per
    round.  On the fixture every host's backlog holds one depth at a
    time, so the counts do not depend on which URLs a round picks."""
    from collections import Counter
    from urllib.parse import urlsplit

    pending, seen, out = list(seeds), set(seeds), []
    while pending:
        taken: Counter = Counter()
        scheduled, deferred = [], []
        for url in pending:
            host = urlsplit(url).hostname
            (scheduled if taken[host] < budget else deferred).append(url)
            taken[host] += 1
        new = []
        for url in scheduled:
            for child in children[url]:
                if child not in seen:
                    seen.add(child)
                    new.append(child)
        pending = deferred + new
        out.append((len(seen) - len(pending), len(pending)))
    return out


def test_crawl_leaf_rounds_write_the_backlog(spark, corpus, tmp_path):
    """A budget of 2 URLs a host with the Bloom on: round 1 fetches 6 of
    the 8 detail pages and defers 2, round 2 (budget short-circuit: the
    backlog fits) fetches those 2.  Neither discovers a link, so round
    1's next frontier is its frontier minus its records, and round 2,
    which defers nothing, writes no frontier.
    Records, seen set, the manifest's counters after every round and the
    nested results equal the simulator's crawl."""
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    eng = CrawlEngine(
        spark, pages, storage_json, tmp_path / "state", default_budget=2, bloom_min_seen=0
    )
    eng.seed(seeds)
    rounds, counters = [], []
    while not (stats := eng.run_round()).get("done"):
        rounds.append(stats)
        m = eng.read_manifest()
        counters.append((m["seen_total"], m["n_pending"]))

    storage = JSONRuleStorage(**json.loads(storage_json))
    seen_sim: dict = {}
    expected = [simulate_crawl(storage, store, u, seen=seen_sim) for u in seeds]
    assert eng.assemble_results(seeds) == expected
    assert sorted(r["url"] for r in eng.records().select("url").collect()) == sorted(seen_sim)
    assert {r["url_canon"] for r in eng.seen().collect()} == set(seen_sim)
    assert counters == _budget_rounds(_sim_children(seeds, expected), seeds, 2)
    assert counters == [(3, 8), (9, 2), (11, 0)]

    assert [(s["decisions"]["budget"], s["decisions"]["expand"]) for s in rounds] == [
        ("ranked", True), ("ranked", False), ("trivial", False)
    ]

    def urls(kind, k):
        schema = crawl_engine.FRONTIER_SCHEMA if kind == "frontier" else "url string"
        return {r["url"] for r in spark.read.schema(schema).parquet(eng._p(kind, k)).collect()}

    assert urls("frontier", 2) == urls("frontier", 1) - urls("records", 1)
    assert len(urls("frontier", 2)) == 2 and urls("records", 2) == urls("frontier", 2)
    # round 2 deferred nothing: it wrote no frontier and left none pending
    assert not Path(eng._p("frontier", 3)).exists() and counters[-1] == (11, 0)


def test_crawl_round_decisions(spark, corpus, tmp_path):
    """Each round's stats name its plan choices, and the metrics file
    and the manifest's ``last_stats`` carry them.  Bloom-on fixture
    crawl compacting every 2 rounds: round 0 expands through the Bloom,
    round 1 is a leaf round that compacts."""
    pages, storage_json, _ = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    eng = CrawlEngine(
        spark, pages, storage_json, tmp_path / "state", bloom_min_seen=0, seen_compact_every=2
    )
    eng.seed(seeds)
    rounds = [s for s in eng.run(max_rounds=10) if not s.get("done")]
    assert [s["decisions"] for s in rounds] == [
        {"budget": "trivial", "fetch": "broadcast", "expand": True, "bloom": True, "compacted": False},
        {"budget": "trivial", "fetch": "broadcast", "expand": False, "bloom": False, "compacted": True},
    ]
    for s in rounds:
        assert json.loads((eng.state_dir / "metrics" / f"r{s['round']}.json").read_text()) == s
    assert eng.read_manifest()["last_stats"] == rounds[-1]


def test_crawl_children_all_seen_take_the_full_path(spark, corpus, tmp_path):
    """Every detail page requests its host's list page, which round 0
    crawled: round 1 discovers children that are all seen, so it takes
    the full dedup path (Bloom on), adds nothing to the frontier, and
    the crawl still equals the simulator's."""
    import uniparser_spark.config as cfg

    pages, _, store = corpus
    storage = testgen.build_storage(3, keep_first=3)
    for i in range(3):
        host = testgen.host_name(i)
        storage[host]["crawler_rules"]["detail"]["parse_rules"].append(
            {"name": "__request__", "chain_rules": [["udf", repr(testgen.list_url(host)), ""]], "child_rules": []}
        )
    storage_json = cfg.json_dumps(storage)
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    eng = CrawlEngine(spark, pages, storage_json, tmp_path / "state", bloom_min_seen=0)
    eng.seed(seeds)
    rounds = [s for s in eng.run(max_rounds=10) if not s.get("done")]
    assert [(s["decisions"]["expand"], s["decisions"]["bloom"], s["new_candidates"]) for s in rounds] == [
        (True, True, 8), (True, True, 0)
    ]
    assert eng.read_manifest()["n_pending"] == 0

    seen_sim: dict = {}
    expected = [
        simulate_crawl(JSONRuleStorage(**json.loads(storage_json)), store, u, seen=seen_sim) for u in seeds
    ]
    assert eng.assemble_results(seeds) == expected
    assert expected[0]["list"]["__result__"][0]["detail"]["__request__"] == seeds[0]
    assert {r["url_canon"] for r in eng.seen().collect()} == set(seen_sim)


def test_crawl_politeness_budget_rounds(spark, corpus, tmp_path):
    """budget=1 on a host => its 3 detail pages take 3 rounds; final
    results still identical (politeness changes schedule, not results)."""
    pages, storage_json, store = corpus
    host0 = testgen.host_name(0)
    seeds = [testgen.list_url(host0)]
    budgets = spark.createDataFrame([(host0, 1)], "host string, budget int")

    engine = CrawlEngine(
        spark, pages, storage_json, tmp_path / "state_budget", budgets=budgets
    )
    engine.seed(seeds)
    rounds = engine.run(max_rounds=10)
    scheduled_per_round = [r["scheduled"] for r in rounds if r["scheduled"]]
    assert scheduled_per_round == [1, 1, 1, 1]  # list page, then one detail per round

    storage = JSONRuleStorage(**json.loads(storage_json))
    expected = [simulate_crawl(storage, store, seeds[0], seen={})]
    assert engine.assemble_results(seeds) == expected


def test_crawl_rule_miss_and_fetch_miss(spark, tmp_path):
    pages = testgen.generate_pages(spark, n_hosts=1, n_details=3)
    # storage whose list rule requests a page that is absent from the store
    storage = testgen.build_storage(1, keep_first=3)
    host = testgen.host_name(0)
    storage[host]["crawler_rules"]["list"]["parse_rules"][0]["chain_rules"] = [
        ["udf", f"['https://{host}/item-000000/', 'https://{host}/item-999999/', 'https://other.org/x/']", ""]
    ]
    import uniparser_spark.config as cfg

    engine = CrawlEngine(spark, pages, cfg.json_dumps(storage), tmp_path / "state_miss")
    engine.seed([testgen.list_url(host)])
    engine.run(max_rounds=5)
    [result] = engine.assemble_results([testgen.list_url(host)])
    children = result["list"]["__result__"]
    assert children[0] == {"detail": {"title": f"Item 0 – synthetic page on {host}"}}
    assert children[1].startswith("FetchMiss")
    assert children[2].startswith("RuleNotFoundError")


def test_crawl_adaptive_paths_agree(spark, corpus, tmp_path, monkeypatch):
    """The adaptive strategy switches (bloom seen-filter engaged, shuffle
    fetch instead of the default broadcast fetch) must not change any
    output: records, seen set, and final results are identical.  One
    seed is absent from the pages table, so both fetch paths also carry
    a miss."""
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    seeds.append(f"https://{testgen.host_name(0)}/item-999999/")

    # name -> (constructor kwargs, crawl.engine constants patched for the run)
    variants = {
        "default": ({}, {}),
        "bloom": ({"bloom_min_seen": 0}, {}),
        "shuffle_fetch": ({}, {"BROADCAST_FETCH_MAX": 0}),
    }
    outputs = {}
    for name, (kwargs, consts) in variants.items():
        with monkeypatch.context() as mp:
            for const, value in consts.items():
                mp.setattr(crawl_engine, const, value)
            eng = CrawlEngine(spark, pages, storage_json, tmp_path / f"state_{name}", **kwargs)
            eng.seed(seeds)
            eng.run(max_rounds=10)
        recs = {
            (r["url"], r["rule_name"], r["result"], r["error"])
            for r in eng.records().collect()
        }
        seen = {r["url_canon"] for r in eng.seen().collect()}
        outputs[name] = (recs, seen, eng.assemble_results(seeds))

    base = outputs["default"]
    assert any(err and err.startswith("FetchMiss") for *_, err in base[0])
    for name in ("bloom", "shuffle_fetch"):
        assert outputs[name] == base, f"{name} diverged from default"


def test_expire_and_requeue_recrawls(spark, corpus, tmp_path):
    """TTL recrawl: expiring the whole seen set requeues every URL and a
    second crawl pass reproduces the same extraction records."""
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    eng = CrawlEngine(spark, pages, storage_json, tmp_path / "state_ttl")
    eng.seed(seeds)
    eng.run(max_rounds=10)
    first_pass = {
        (r["url"], r["rule_name"], r["result"]) for r in eng.records().collect()
    }
    n_seen = eng.seen().count()

    stats = eng.expire_and_requeue(max_age_rounds=0)  # everything expires
    assert stats["seen_kept"] == 0
    assert stats["n_pending"] == n_seen
    assert not eng.read_manifest()["done"]

    rounds2 = eng.run(max_rounds=10)
    recrawl_round = stats["round"] + 1
    second_pass = {
        (r["url"], r["rule_name"], r["result"])
        for r in eng.records().collect()
        if r["round"] >= recrawl_round
    }
    assert {u for u, _, _ in second_pass} == {u for u, _, _ in first_pass}
    assert second_pass == first_pass  # byte-identical re-extraction
    assert eng.seen().count() == n_seen


def test_crawl_with_pluggable_adapter(spark, corpus, tmp_path):
    """The Adapter seam: a dict-backed FakeAdapter (with retry wrapper)
    must reproduce the join-based engine's crawl exactly — same nested
    results, same seen set."""
    from uniparser_spark.adapters import FakeAdapter, RetryingAdapter

    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]

    class FlakyOnce(FakeAdapter):
        # first ask for each URL fails; RetryingAdapter must recover
        def __init__(self, bodies):
            super().__init__(bodies)
            self.asked = set()

        def fetch_batch(self, requests):
            results = super().fetch_batch(requests)
            for i, req in enumerate(requests):
                if req["url"] not in self.asked:
                    self.asked.add(req["url"])
                    r = results[i]
                    results[i] = type(r)(r.url, None, 599, "FlakyError")
            return results

    adapter = RetryingAdapter(FlakyOnce(store), retries=2)
    engine = CrawlEngine(
        spark, None, storage_json, tmp_path / "state_adapter",
        adapter=adapter,
    )
    engine.seed(seeds)
    engine.run(max_rounds=10)
    got = engine.assemble_results(seeds)

    ref = CrawlEngine(spark, pages, storage_json, tmp_path / "state_join")
    ref.seed(seeds)
    ref.run(max_rounds=10)
    assert got == ref.assemble_results(seeds)
    assert (
        {r["url_canon"] for r in engine.seen().collect()}
        == {r["url_canon"] for r in ref.seen().collect()}
    )


def test_seen_deltas_are_append_only_and_compact(spark, corpus, tmp_path):
    """The seen set is the append-only records log: round k's slice
    (crawled_round == k) holds exactly round k's scheduled URLs (O(round)
    I/O, never O(total)), the slices are disjoint, and TTL maintenance
    compacts the log into the snapshot seen/r{seen_base}.  Right after
    seed() — no snapshot, no records — the seen set is empty and
    maintenance runs on it."""
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    seed_urls = {canonicalize_url(u) for u in seeds}

    fresh = CrawlEngine(spark, pages, storage_json, tmp_path / "state_fresh")
    fresh.seed(seeds)
    assert fresh.seen().count() == 0
    stats = fresh.expire_and_requeue(max_age_rounds=0)
    assert (stats["seen_kept"], stats["n_pending"]) == (0, len(seeds))
    assert fresh.read_manifest()["seen_base"] == 1
    fresh.run_round()
    assert {(r["url_canon"], r["crawled_round"]) for r in fresh.seen().collect()} == {
        (u, 1) for u in seed_urls
    }

    eng = CrawlEngine(spark, pages, storage_json, tmp_path / "state_delta")
    eng.seed(seeds)
    rounds = eng.run(max_rounds=10)

    # slice 0 = round 0's scheduled set (the seeds), slice 1 = round 1's
    slices: dict = {}
    for r in eng.seen().collect():
        slices.setdefault(r["crawled_round"], []).append(r["url_hash"])
    assert set(slices) == {0, 1}
    assert {r["url_canon"] for r in eng.seen().filter("crawled_round = 0").collect()} == seed_urls
    assert len(slices[1]) == rounds[1]["scheduled"]
    total = eng.seen().count()
    assert total == len(slices[0]) + len(slices[1])  # union of disjoint slices
    assert len(set(slices[0]) | set(slices[1])) == total

    # maintenance compacts: seen_base advances, the snapshot holds the
    # whole log, membership unchanged (max_age large → nothing expires)
    eng.expire_and_requeue(max_age_rounds=100)
    m = eng.read_manifest()
    assert m["seen_base"] == m["round"]
    assert spark.read.parquet(eng._p("seen", m["seen_base"])).count() == total
    assert eng.seen().count() == total


def test_seen_inline_autocompaction(spark, corpus, tmp_path):
    """With seen_compact_every=2 the second productive round folds the
    whole log into the snapshot seen/r2 and advances seen_base — deep
    crawls never read an unbounded union of records."""
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    eng = CrawlEngine(
        spark, pages, storage_json, tmp_path / "state_autocompact",
        seen_compact_every=2,
    )
    eng.seed(seeds)
    rounds = eng.run(max_rounds=10)
    m = eng.read_manifest()
    assert m["seen_base"] == 2
    d2 = spark.read.parquet(str(tmp_path / "state_autocompact/seen/r2"))
    assert d2.count() == sum(s.get("scheduled", 0) for s in rounds)  # full log
    assert eng.seen().count() == d2.count()
    # parity with the un-compacted engine
    ref = CrawlEngine(spark, pages, storage_json, tmp_path / "state_nocompact")
    ref.seed(seeds)
    ref.run(max_rounds=10)
    assert (
        {r["url_canon"] for r in eng.seen().collect()}
        == {r["url_canon"] for r in ref.seen().collect()}
    )


def test_seen_log_long_horizon_soak(spark, tmp_path):
    """100+-round soak over a micro-corpus: TTL recrawl cycles drive the
    append-only seen log (the records) through many inline compactions and a
    maintenance compaction per cycle; a mid-soak engine restart lands
    exactly ON an inline-compaction round.  Invariants checked every
    cycle: seen membership == the full site (no false negatives after
    compaction), unique url_hash (no duplicate seen entries), manifest
    round strictly monotone, seen_base <= round and only advancing, and
    manifest seen_total == the materialized seen count."""
    from pathlib import Path

    pages = testgen.generate_pages(spark, n_hosts=2, n_details=6).cache()
    storage_json = testgen.storage_json(2)
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(2)]
    state = tmp_path / "state_soak"

    def new_engine():
        return CrawlEngine(
            spark, pages, storage_json, state,
            seen_compact_every=5,
        )

    eng = new_engine()
    eng.seed(seeds)
    eng.run(max_rounds=10)
    site = {r["url_canon"] for r in eng.seen().collect()}
    # 2 list pages + the zipf split of 6 details across 2 hosts
    assert len(site) == 2 + sum(testgen.zipf_counts(2, 6))
    last_round = eng.read_manifest()["round"]
    last_base = int(eng.read_manifest().get("seen_base", 0) or 0)
    restarted = compactions_seen = 0

    for cycle in range(50):
        # expire everything crawled >1 cycle ago -> full recrawl demand
        eng.expire_and_requeue(max_age_rounds=2)
        m = eng.read_manifest()
        assert m["round"] == last_round + 1
        assert int(m["seen_base"]) == m["round"]  # maintenance compacts

        if not restarted and m["round"] >= 30:
            # restart the engine so the resumed round IS an inline-
            # compaction round (compact_every=1 forces the fold)
            eng = new_engine()
            eng.seen_compact_every = 1
            stats = eng.run_round()
            m2 = eng.read_manifest()
            if stats["scheduled"]:
                assert int(m2["seen_base"]) == m2["round"]  # compacted
            eng = new_engine()
            restarted = 1

        eng.run(max_rounds=10)
        m = eng.read_manifest()
        # membership invariant: after a full recrawl cycle the live seen
        # set is exactly the site again
        rows = eng.seen().collect()
        assert {r["url_canon"] for r in rows} == site
        hashes = [r["url_hash"] for r in rows]
        assert len(hashes) == len(set(hashes))
        assert int(m.get("seen_total", -1)) == len(rows)
        assert m["round"] > last_round
        base = int(m.get("seen_base", 0) or 0)
        assert last_base <= m["round"] + 1 and base >= 0
        if base > last_base:
            compactions_seen += 1
        last_round, last_base = m["round"], base
        # no hole in the live view: the snapshot seen/r{seen_base} and
        # every records/r{j}, j in [seen_base, round), exist on disk
        assert base == 0 or Path(eng._p("seen", base)).exists()
        for r in range(base, last_round):
            assert Path(eng._p("records", r)).exists()

    assert restarted and compactions_seen >= 10
    assert last_round >= 100  # the soak really covered 100+ rounds


def test_state_write_protocol(spark, corpus, tmp_path, monkeypatch):
    """Parquet writes per state dir, step by step: the records are the
    seen log, so only a compaction (inline or TTL maintenance) writes
    seen/.  The manifest's (round, seen_base, seen_total) after each
    step are pinned, and seen_total is the seen set's size."""
    from collections import Counter

    from pyspark.sql.readwriter import DataFrameWriter

    pages, storage_json, _ = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    writes: Counter = Counter()
    original = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        writes[Path(str(path)).parent.name] += 1
        return original(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    eng = CrawlEngine(spark, pages, storage_json, tmp_path / "state")

    def compacting_round():
        eng.seen_compact_every = 2
        eng.run_round()

    steps = [
        # (step, parquet writes, (round, seen_base, seen_total) after it)
        (lambda: eng.seed(seeds), {"frontier": 1}, (0, 0, 0)),
        (eng.run_round, {"records": 1, "frontier": 1}, (1, 0, 3)),
        # a leaf round that defers nothing writes no frontier
        (compacting_round, {"records": 1, "seen": 1}, (2, 2, 11)),
        (eng.run_round, {}, (2, 2, 11)),  # n_pending = 0: done
        # starts from an empty pending set: frontier/r2 was never written
        (lambda: eng.expire_and_requeue(max_age_rounds=100), {"seen": 1, "frontier": 1}, (3, 3, 11)),
        (lambda: eng.expire_and_requeue(max_age_rounds=0), {"seen": 1, "frontier": 1}, (4, 4, 0)),
        (eng.run_round, {"records": 1, "frontier": 1}, (5, 4, 11)),
    ]
    for step, expected_writes, expected_manifest in steps:
        writes.clear()
        step()
        m = eng.read_manifest()
        assert dict(writes) == expected_writes
        assert (m["round"], m["seen_base"], m["seen_total"]) == expected_manifest
        assert eng.seen().count() == m["seen_total"]


def test_expire_and_requeue_freshness_ranked(spark, corpus, tmp_path):
    """With a fetch-history table, requeued URLs carry freshness-model
    priorities in [-1, 0): frequently-changing pages outrank static
    ones, and all recrawls still rank below fresh finds (>= 0)."""
    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    eng = CrawlEngine(
        spark, pages, storage_json, tmp_path / "state_fresh"
    )
    eng.seed(seeds)
    eng.run(max_rounds=10)
    seen_urls = [r["url_canon"] for r in eng.seen().collect()]
    hot, others = seen_urls[0], seen_urls[1:]
    history = spark.createDataFrame(
        [(hot, 6, 5)] + [(u, 6, 0) for u in others],
        "url_canon string, fetch_count long, change_count long",
    )

    eng.expire_and_requeue(max_age_rounds=0, history=history)
    rnd = eng.read_manifest()["round"]
    frontier = spark.read.parquet(
        str(tmp_path / "state_fresh" / "frontier" / f"r{rnd}")
    )
    prio = {r["url_canon"]: r["priority"] for r in frontier.collect()}
    assert all(-1.0 <= p < 0.0 for p in prio.values())
    # the hot page outranks every static one
    assert prio[hot] == max(prio.values())
    assert all(prio[hot] > prio[u] for u in others)


def test_seed_df_from_sitemap_entries(spark, corpus, tmp_path):
    """Distributed seeding: sitemap XML -> entry table -> seeds_from_
    entries -> CrawlEngine.seed_df.  The crawl result matches a
    list-seeded run, and round-0 frontier carries the advertised
    priorities with canonical-collision dedup (max priority, min url)."""
    from uniparser_spark.sources.sitemap import (
        build_sitemap,
        seeds_from_entries,
        sitemap_entries,
    )

    pages, storage_json, store = corpus
    seeds = [testgen.list_url(testgen.host_name(i)) for i in range(3)]
    sm = build_sitemap(
        [{"loc": seeds[0], "priority": 0.9},
         {"loc": seeds[0].replace("https://", "HTTPS://"), "priority": 0.4},
         {"loc": seeds[1], "priority": 0.7},
         {"loc": seeds[2]}]  # default 0.5
    )
    sm_pages = spark.createDataFrame(
        [("https://seeds.example.org/sitemap.xml", bytearray(sm))],
        "url string, html binary",
    )
    seed_tbl = seeds_from_entries(sitemap_entries(sm_pages))

    eng = CrawlEngine(spark, pages, storage_json, tmp_path / "state_smseed")
    eng.seed_df(seed_tbl)
    frontier = spark.read.parquet(str(tmp_path / "state_smseed" / "frontier" / "r0"))
    rows = {r["url_canon"]: r for r in frontier.collect()}
    # the HTTPS:// variant canonicalizes onto seeds[0]: max priority won,
    # one frontier row fetching the canonical form
    assert len(rows) == 3
    s0 = rows[canonicalize_url(seeds[0])]
    assert s0["priority"] == 0.9 and s0["url"] == canonicalize_url(seeds[0])
    assert rows[canonicalize_url(seeds[1])]["priority"] == 0.7
    assert rows[canonicalize_url(seeds[2])]["priority"] == 0.5

    rounds = eng.run(max_rounds=10)
    assert rounds[-1]["done"] or rounds[-1]["scheduled"] == 0
    got = eng.assemble_results(seeds)
    # same extraction results as a plain list-seeded crawl
    ref = CrawlEngine(spark, pages, storage_json, tmp_path / "state_listseed")
    ref.seed(seeds)
    ref.run(max_rounds=10)
    assert got == ref.assemble_results(seeds)
    assert {r["url_canon"] for r in eng.seen().collect()} == {
        r["url_canon"] for r in ref.seen().collect()
    }


def test_crawl_dust_rules_collapse_aliases_prefetch(spark, tmp_path):
    """Engine-integrated DUST: discovered children carrying a ruled-out
    query param are rewritten BEFORE canonicalization, so aliases
    collapse onto the canonical (one fetch, no FetchMiss) and the
    unruled param survives untouched."""
    import uniparser_spark.config as cfg

    pages = testgen.generate_pages(spark, n_hosts=1, n_details=3)
    storage = testgen.build_storage(1, keep_first=3)
    host = testgen.host_name(0)
    # children: the same detail page under utm-tracked aliases + one
    # page whose param is NOT ruled out (stays a distinct URL -> miss)
    storage[host]["crawler_rules"]["list"]["parse_rules"][0]["chain_rules"] = [
        ["udf",
         f"['https://{host}/item-000000/?utm=a', "
         f"'https://{host}/item-000000/?utm=b&m=1', "
         f"'https://{host}/item-000001/?keep=1']",
         ""]
    ]
    rules = spark.createDataFrame(
        [(host, "utm", 5), (host, "m", 5)], "host string, param string, votes long"
    )
    eng = CrawlEngine(
        spark, pages, cfg.json_dumps(storage), tmp_path / "state_dust",
        dust_rules=rules,
    )
    eng.seed([testgen.list_url(host)])
    eng.run(max_rounds=5)
    [result] = eng.assemble_results([testgen.list_url(host)])
    children = result["list"]["__result__"]
    # both aliases collapsed onto the canonical item-000000 -> extracted
    assert children[0] == {"detail": {"title": f"Item 0 – synthetic page on {host}"}}
    assert children[1] == {"detail": {"title": f"Item 0 – synthetic page on {host}"}}
    # keep=1 was not ruled out: the URL stays distinct (and here fails
    # rule dispatch, since the detail regex doesn't admit a query)
    assert children[2].startswith("RuleNotFoundError")
    assert "keep=1" in children[2]
    # the seen set holds ONE canonical entry for item-000000 (no aliases)
    seen = {r["url_canon"] for r in eng.seen().collect()}
    assert f"https://{host}/item-000000/" in seen
    assert not any("utm=" in u for u in seen)


def test_crawl_honor_nofollow_drops_children(spark, corpus, tmp_path):
    """REP HTML extension in the loop: children of a nofollow page are
    never scheduled; everything else crawls identically."""
    from pyspark.sql import functions as F

    pages, storage_json, store = corpus
    h0, h1 = testgen.host_name(0), testgen.host_name(1)
    seeds = [testgen.list_url(h0), testgen.list_url(h1)]
    tagged = pages.withColumn(
        "text",
        F.when(
            F.col("url") == testgen.list_url(h1),
            F.concat(F.lit('<meta name="robots" content="nofollow">'), F.col("text")),
        ).otherwise(F.col("text")),
    )

    eng = CrawlEngine(
        spark, tagged, storage_json, tmp_path / "state_nf",
        honor_nofollow=True,
    )
    eng.seed(seeds)
    eng.run(max_rounds=6)
    crawled = {r["url"] for r in eng.records().collect()}
    # h1's list page itself is crawled (and its records kept for audit)...
    assert testgen.list_url(h1) in crawled
    # ...but none of its detail children were scheduled
    assert not any(u.startswith(f"https://{h1}/item-") for u in crawled)
    # h0 crawls normally
    assert any(u.startswith(f"https://{h0}/item-") for u in crawled)

    # control: same corpus without the flag follows h1's links
    eng2 = CrawlEngine(
        spark, tagged, storage_json, tmp_path / "state_nf_off",
    )
    eng2.seed(seeds)
    eng2.run(max_rounds=6)
    crawled2 = {r["url"] for r in eng2.records().collect()}
    assert any(u.startswith(f"https://{h1}/item-") for u in crawled2)


def test_crawl_blocklist_keeps_domain_out_of_frontier(spark, corpus, tmp_path):
    """Discovered candidates on a blocklisted domain never enter the
    frontier; seeds bypass the list (curated by contract)."""
    pages, storage_json, store = corpus
    h0, h1 = testgen.host_name(0), testgen.host_name(1)
    seeds = [testgen.list_url(h0), testgen.list_url(h1)]
    rules = spark.createDataFrame([(h1,)], "domain string")

    eng = CrawlEngine(
        spark, pages, storage_json, tmp_path / "state_bl",
        blocklist=rules,
    )
    eng.seed(seeds)
    eng.run(max_rounds=6)
    crawled = {r["url"] for r in eng.records().collect()}
    assert testgen.list_url(h1) in crawled  # seed bypass
    assert not any(u.startswith(f"https://{h1}/item-") for u in crawled)
    assert any(u.startswith(f"https://{h0}/item-") for u in crawled)


# ------------------------------------------------------- sessionization
def test_sessionize_gaps_and_ties(spark):
    """Gap sessionization: 30-min cut, tie-broken ordering, 1-based ids."""
    import datetime as dt

    from uniparser_spark.crawl.sessions import sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        # host 1: two sessions — 3 events, then a 1h gap, then 1 event
        (1, s(0), 10),
        (1, s(60), 11),
        (1, s(1800), 12),      # exactly gap_sec since prev -> SAME session
        (1, s(1800 + 3601), 13),
        # host 2: simultaneous events tie-break on id; then new session
        (2, s(0), 20),
        (2, s(0), 21),
        (2, s(2000), 22),
    ]
    df = spark.createDataFrame(
        [(u, ts, e) for (u, ts, e) in rows], "user_id long, ts timestamp, event_id long"
    )
    out = {
        (r["user_id"], r["session_id"]): r
        for r in sessionize(df).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1), (2, 2)}
    a = out[(1, 1)]
    assert a["n_events"] == 3 and a["first_event"] == 10
    assert a["duration_sec"] == 1800
    b = out[(1, 2)]
    assert b["n_events"] == 1 and b["first_event"] == 13 and b["duration_sec"] == 0
    c = out[(2, 1)]
    assert c["n_events"] == 2 and c["first_event"] == 20
    assert out[(2, 2)]["first_event"] == 22


# ------------------------------------------------------------ classify_urls
def test_classify_urls_rule_per_class(spark):
    from uniparser_spark.crawl.classify import classify_urls

    cases = [
        # (url, page_type, priority, depth, has_query)
        ("https://s.ex/2026/08/my-post", "article", 1, 3, 0),
        ("https://s.ex/some-very-long-slug-here.html", "article", 1, 1, 0),
        ("https://s.ex/product/widget-9", "product", 2, 2, 0),
        ("https://s.ex/dp/B0123", "product", 2, 2, 0),
        ("https://s.ex/blog/page/12", "pagination", 5, 3, 0),
        ("https://s.ex/list?page=3", "pagination", 5, 1, 1),
        ("https://s.ex/search/books", "search", 8, 2, 0),
        ("https://s.ex/find?q=x", "search", 8, 1, 1),
        ("https://s.ex/logo.svg", "asset", 9, 1, 0),
        ("https://s.ex/feed", "feed", 4, 1, 0),
        ("https://s.ex/news/", "section", 3, 1, 0),
        ("https://s.ex/news/tech", "section", 3, 2, 0),
        ("https://s.ex/a/b/c/d", "other", 6, 4, 0),
        ("https://s.ex/", "other", 6, 0, 0),
        # asset wins over everything (first match)
        ("https://s.ex/2026/08/chart.png", "asset", 9, 3, 0),
    ]
    df = spark.createDataFrame([(u,) for u, *_ in cases], "url string")
    got = {r["url"]: r.asDict() for r in classify_urls(df).collect()}
    for u, ptype, prio, depth, q in cases:
        r = got[u]
        assert (r["page_type"], r["type_priority"]) == (ptype, prio), u
        assert (r["path_depth"], r["has_query"]) == (depth, q), u


def test_failure_episodes_islands_and_recovery(spark):
    """Outage detection: maximal failure runs, min_failures gate,
    recovered flag off when a host's log ends mid-outage."""
    import datetime as dt

    from uniparser_spark.crawl.sessions import failure_episodes

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        # host a: ok, FAIL FAIL FAIL, ok, FAIL (singleton -> gated out)
        ("a", s(0), 1, 1),
        ("a", s(10), 2, 0),
        ("a", s(20), 3, 0),
        ("a", s(30), 4, 0),
        ("a", s(40), 5, 1),
        ("a", s(50), 6, 0),
        # host b: ends dark — FAIL FAIL at the tail, never recovers
        ("b", s(0), 7, 1),
        ("b", s(10), 8, 0),
        ("b", s(20), 9, 0),
        # host c: all ok — no episodes
        ("c", s(0), 10, 1),
    ]
    df = spark.createDataFrame(
        rows, "host string, ts timestamp, event_id long, ok int"
    )
    out = [
        r.asDict()
        for r in failure_episodes(df)
        .orderBy("host", "start_us")
        .collect()
    ]
    assert len(out) == 2
    a, b = out
    assert a["host"] == "a" and a["n_failures"] == 3
    assert a["first_event"] == 2 and a["recovered"] == 1
    assert (a["end_us"] - a["start_us"]) == 20_000_000
    assert b["host"] == "b" and b["n_failures"] == 2 and b["recovered"] == 0
