"""Round-based distributed crawl: frontier → schedule → fetch → extract.

Each scheduling round runs at most two Spark actions over checkpointed
parquet state: the records and frontier writes (SURVEY.md §3 EP1
mapping).  Broadcasts and AQE stages split those actions into more Spark jobs.
A leaf round (its pages request no children) writes only its deferred
backlog as the next frontier: no expansion, seen view, Bloom or
anti-join; with nothing deferred it writes no frontier at all.
The reference's recursive thread fan-out (crawler.py:156-189) becomes
breadth-first rounds; result nesting is restored from (parent_url,
list_index) so the final output is order-identical to the reference's
DFS (verified against crawl.simulator).

State layout under ``state_dir`` (Iceberg-style: immutable per-round
dirs + an atomically swapped manifest):

    manifest.json                    {"round": k, "done": bool, "seen_base": b, ...}
    frontier/r{k}/  (parquet)        pending URLs entering round k;
                                     not written when round k-1 left
                                     nothing pending as a leaf round
                                     (the manifest says n_pending = 0)
    records/r{k}/   (parquet)        extraction outputs of round k, one
                                     row per scheduled URL — also the
                                     seen log: the live seen set is
                                     seen/r{b} ∪ records/r{b..k-1},
                                     projected to (url_hash, url_canon,
                                     round), so per-round seen I/O is
                                     the records write itself
    seen/r{b}/      (parquet)        compaction SNAPSHOT: every URL
                                     crawled before round b (written by
                                     inline compaction and TTL
                                     maintenance, which advance
                                     seen_base to b; none while b = 0)
    metrics/r{k}.json                round k's stats and ``decisions``
                                     (lineage is the records' part_id)

Resume = read manifest, continue from round k; a crashed round leaves
the previous manifest intact (write new dirs first, swap manifest last).

Scale notes (10^10-URL design):
- the fetch is an equi-join frontier→pages on url (broadcast of the
  batch while it fits, shuffle join beyond; pages side pruned to
  (url, text/html) columns only);
- the seen-set anti-join is bloom-accelerated once the seen set is
  large enough to repay the filter (size-gated, frontier.seen), in the
  rounds that discover links;
- state is written as the plan leaves it: AQE sizes the files, and no
  reader needs a hash layout (the seen anti-join shuffles both sides);
- per-host politeness/priority runs salted (frontier.politeness).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path
from typing import Dict, List, Optional, Union

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import config
from ..engine.extract import RESULT_SCHEMA, extract_pages
from ..engine.rows import local_frame
from ..frontier.politeness import schedule_batch
from ..frontier.robots import apply_robots
from ..frontier.seen import BloomSeenFilter, add_url_keys

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_canon", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("priority", DoubleType(), False),
        StructField("depth", IntegerType(), False),
        StructField("parent_url", StringType(), True),
        StructField("list_index", IntegerType(), False),
        StructField("discovered_round", IntegerType(), False),
    ]
)

_META_COLS = ["url", "url_canon", "url_hash", "host", "priority", "depth", "parent_url", "list_index", "discovered_round"]

# explicit read schemas: a schemaless parquet read costs a footer
# file-listing/inference job per round — pure scheduling latency that
# never scales with cores
SEEN_SCHEMA = "url_hash long, url_canon string, crawled_round int"
_RECORDS_EXPAND_SCHEMA = "url string, depth int, requests array<string>"
# a round's records: the extraction result, the frontier meta it carries
# through, the round and the writing partition
RECORDS_SCHEMA = StructType(
    RESULT_SCHEMA.fields
    + [f for f in FRONTIER_SCHEMA.fields if f.name != "url"]
    + [StructField("round", IntegerType()), StructField("part_id", IntegerType())]
)

# seen-set Bloom filter width (buckets of the bit array)
BLOOM_BUCKETS = 64
# fetch strategy by pending-batch size: up to BROADCAST_FETCH_MAX URLs
# the batch is broadcast-joined; beyond that the join shuffles
BROADCAST_FETCH_MAX = 5_000_000


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        storage_json: str,
        state_dir: Union[str, Path],
        budgets: Optional[DataFrame] = None,
        robots: Optional[DataFrame] = None,
        default_budget: int = 100000,
        salt_buckets: int = 16,
        bloom_min_seen: int = 1_000_000,
        text_col: str = "text",
        html_col: Optional[str] = None,
        adapter=None,
        seen_compact_every: int = 64,
        dust_rules: Optional[DataFrame] = None,
        blocklist: Optional[DataFrame] = None,
        honor_nofollow: bool = False,
    ):
        """``adapter``: an :class:`uniparser_spark.adapters.Adapter` to
        fetch page bodies with, replacing the pages-table join (the
        production seam; see adapters.py).  None keeps the optimized
        join strategies."""
        if adapter is not None and html_col is not None:
            raise ValueError(
                "adapter and html_col are mutually exclusive: adapter "
                "fetches deliver decoded text, so the html column would "
                "be silently ignored (pass one or the other)"
            )
        self.adapter = adapter
        self.spark = spark
        self.pages = pages
        self.storage_json = storage_json
        self.state_dir = Path(state_dir)
        self.budgets = budgets
        self.robots = robots
        # (host, param) DUST rules (crawl/dust.dust_param_rules): applied
        # to discovered child URLs before canonicalization, so known
        # aliases collapse onto their canonical and dedup pre-fetch
        self.dust_rules = dust_rules
        # (domain) blocklist (frontier/blocklist.py label-suffix
        # semantics): discovered candidates on a listed domain never
        # enter the frontier.  Seeds are assumed curated and bypass it.
        self.blocklist = blocklist
        # honor per-page <meta name=robots>/nofollow (REP HTML
        # extension, frontier/robots.page_directives): children of a
        # nofollow page are dropped before frontier insertion.  Opt-in:
        # costs one extra (url, body) pass over the round's fetched
        # pages.  noindex is a corpus-admission concern — filter the
        # records table downstream; the engine keeps records for audit.
        self.honor_nofollow = honor_nofollow
        self.default_budget = default_budget
        self.salt_buckets = salt_buckets
        self.bloom = BloomSeenFilter(n_buckets=BLOOM_BUCKETS)
        self.bloom_min_seen = bloom_min_seen
        self.text_col = text_col
        self.html_col = html_col
        # bound the delta-log width: after this many un-compacted rounds
        # the seen write compacts inline (TTL maintenance also compacts)
        self.seen_compact_every = seen_compact_every
        self.state_dir.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------ manifest
    @property
    def _manifest_path(self) -> Path:
        return self.state_dir / "manifest.json"

    def read_manifest(self) -> dict:
        if self._manifest_path.is_file():
            return json.loads(self._manifest_path.read_text())
        return {"round": -1, "done": False}

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, self._manifest_path)  # atomic swap = round commit

    def _p(self, kind: str, rnd: int) -> str:
        return str(self.state_dir / kind / f"r{rnd}")

    def _seen_view(self, manifest: dict, upto_rnd: int) -> DataFrame:
        """The live seen set through round ``upto_rnd``: the snapshot
        ``seen/r{seen_base}`` (only once a compaction wrote it) plus the
        records of rounds seen_base..upto_rnd, projected to the narrow
        (url_hash, url_canon, crawled_round) schema — the records hold
        one row per scheduled URL, so they are the seen log."""
        base = int(manifest.get("seen_base", 0) or 0)
        snapshot = [self._p("seen", base)] if base > 0 else []
        log = [self._p("records", r) for r in range(base, upto_rnd + 1)]
        missing = [p for p in snapshot + log if not Path(p).exists()]
        if missing:
            # every committed round writes its records and every
            # compaction its snapshot: a hole means lost/corrupted
            # state, and silently shrinking the seen set would re-crawl
            raise FileNotFoundError(
                f"seen state missing: {missing} (seen_base={base}, "
                f"upto={upto_rnd}) — state is corrupted, restore or re-seed"
            )
        parts = [self.spark.read.schema(SEEN_SCHEMA).parquet(*snapshot)] if snapshot else []
        if log:
            parts.append(
                self.spark.read.schema("url_hash long, url_canon string, round int")
                .parquet(*log)
                .withColumnRenamed("round", "crawled_round")
            )
        if not parts:
            return local_frame(self.spark, [], SEEN_SCHEMA)
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def _candidates(self, rnd: int, fetched: DataFrame) -> DataFrame:
        """Frontier expansion: round ``rnd``'s ``__request__`` leaves as
        next-round candidates — DUST-rewritten, keyed, first-discovery
        deduped, then the nofollow, blocklist and robots filters.
        ``fetched`` is the round's fetch join (the nofollow pass reads
        the page bodies from it)."""
        # partial schema = projection: only the three expansion columns
        # are read back, and no inference job runs
        records_df = self.spark.read.schema(_RECORDS_EXPAND_SCHEMA).parquet(
            self._p("records", rnd)
        )
        exploded = (
            records_df.filter(F.col("requests").isNotNull())
            .select("url", "depth", F.posexplode("requests").alias("list_index", "child_url"))
            .select(
                F.col("child_url").alias("url"),
                F.lit(0.0).alias("priority"),
                (F.col("depth") + 1).alias("depth"),
                F.col("url").alias("parent_url"),
                F.col("list_index"),
                F.lit(rnd + 1).alias("discovered_round"),
            )
        )
        if self.dust_rules is not None:
            from .dust import apply_dust_rules

            # rewrite BEFORE canonicalization: stripped aliases collapse
            # onto one url_hash and the first-discovery window below
            # dedups them — every collapsed alias is a fetch saved
            exploded = apply_dust_rules(exploded, self.dust_rules, url_col="url")
        candidates = add_url_keys(exploded).select(*_META_COLS)
        # first-discovery-wins within the round (deterministic order)
        first_seen = Window.partitionBy("url_hash").orderBy("depth", "parent_url", "list_index")
        candidates = (
            candidates.withColumn("_rk", F.row_number().over(first_seen)).filter(F.col("_rk") == 1).drop("_rk")
        )
        if self.honor_nofollow:
            # REP HTML extension: children of a nofollow page never
            # reach the frontier.  Re-derives (url, body) from the
            # fetch join (broadcast-shaped, no extraction re-run) and
            # anti-joins the small nofollow-parent set.
            from ..frontier.robots import page_directives

            body = self.html_col or self.text_col
            nofollow_parents = (
                page_directives(fetched.select("url", body), html_col=body)
                .filter(F.col("nofollow") == 1)
                .select(F.col("url").alias("parent_url"))
            )
            candidates = candidates.join(
                F.broadcast(nofollow_parents), "parent_url", "left_anti"
            ).select(*_META_COLS)
        if self.blocklist is not None:
            # domain blocklist (label-suffix semantics): resolve the
            # round's DISTINCT hosts against the broadcast rules, then
            # anti-join candidates on host — suffix explosion touches
            # |hosts| rows, not |candidates|
            from ..frontier.blocklist import host_suffixes

            blocked_hosts = (
                candidates.select("host")
                .distinct()
                .select(
                    "host", F.explode(host_suffixes(F.col("host"))).alias("suf")
                )
                .join(
                    F.broadcast(
                        self.blocklist.select(F.col("domain").alias("suf"))
                    ),
                    "suf",
                    "left_semi",
                )
                .select("host")
                .distinct()
            )
            candidates = candidates.join(
                F.broadcast(blocked_hosts), "host", "left_anti"
            ).select(*_META_COLS)
        if self.robots is not None:
            # robots disallow filter (broadcast join + prefix match);
            # crawl-delay budgets flow in separately via `budgets`
            candidates = apply_robots(candidates, self.robots).select(*_META_COLS)
        return candidates

    # -------------------------------------------------------------- seeding
    def seed(self, urls: List[str]) -> None:
        """Initialize frontier round 0 with the seed list (list order kept
        via list_index, matching reference seed iteration).  Seeds are
        deduplicated here so the frontier invariant (unique url_hash)
        holds from round 0 — later rounds rely on it to skip re-dedup.
        The seed rows become a local relation (``engine.rows.local_frame``),
        so the one frontier write is the only Spark work and no Python
        task runs."""
        unique, seen_urls = [], set()
        for u in urls:
            if u not in seen_urls:
                seen_urls.add(u)
                unique.append(u)
        urls = unique
        rows = [(u, 0.0, 0, None, i, 0) for i, u in enumerate(urls)]
        df = local_frame(
            self.spark,
            rows,
            "url string, priority double, depth int, parent_url string, list_index int, discovered_round int",
        )
        frontier = add_url_keys(df).select(*_META_COLS)
        frontier.write.mode("overwrite").parquet(self._p("frontier", 0))
        self._commit_manifest(
            {
                "round": 0,
                "done": False,
                "seeded": len(urls),
                "n_pending": len(urls),
                "seen_total": 0,
                "seen_base": 0,
            }
        )

    def seed_df(self, seeds: DataFrame) -> None:
        """Initialize frontier round 0 from a ``(url, priority)``
        DataFrame — the distributed seeding path for table-sized seed
        sources (sitemap entries via ``sources.sitemap.seeds_from_entries``,
        a previous crawl's frontier export, a URL dump).

        Unlike :func:`seed` there is no caller list order to preserve:
        within-host order comes entirely from ``host_order`` (priority
        DESC, then url_canon) so ``list_index`` is 0 everywhere — fully
        deterministic without a global row-number (which would serialize
        a 10^10-row seed set onto one window partition).  URLs that
        canonicalize to the same ``url_canon`` collapse to one frontier
        row keeping the max advertised priority, and the engine fetches
        the CANONICAL form (there is no single raw variant to prefer;
        canonicalization only normalizes scheme/host case and default
        ports, which never changes the resource) — order-independent,
        so the unique-url_hash invariant holds from round 0.
        """
        keyed = add_url_keys(
            seeds.select(
                "url",
                F.coalesce(F.col("priority").cast("double"), F.lit(0.0)).alias(
                    "priority"
                ),
            )
        )
        dedup = (
            keyed.groupBy("url_canon", "url_hash", "host")
            .agg(F.max("priority").alias("priority"))
            .select(
                F.col("url_canon").alias("url"),
                "url_canon",
                "url_hash",
                "host",
                "priority",
                F.lit(0).alias("depth"),
                F.lit(None).cast("string").alias("parent_url"),
                F.lit(0).alias("list_index"),
                F.lit(0).alias("discovered_round"),
            )
        )
        obs = Observation("seed_df")
        frontier = dedup.observe(obs, F.count(F.lit(1)).alias("n")).select(
            *_META_COLS
        )
        frontier.write.mode("overwrite").parquet(self._p("frontier", 0))
        n = int(obs.get["n"])
        self._commit_manifest(
            {
                "round": 0,
                "done": False,
                "seeded": n,
                "n_pending": n,
                "seen_total": 0,
                "seen_base": 0,
            }
        )

    # --------------------------------------------------------------- rounds
    def run_round(self) -> Dict[str, int]:
        """One scheduling round in at most TWO Spark actions (records
        write, frontier write; an inline compaction adds a seen snapshot
        write) — per-round stats ride on the writes via ``Observation``
        instead of separate count() jobs, frontier metadata is carried
        through the extraction UDF instead of re-joined, and the records
        written are the round's seen-log entry, so nothing in the round
        is computed or stored twice.  The fetch takes one of two plans:
        a broadcast join of the batch against the streamed pages scan
        while the batch fits (``BROADCAST_FETCH_MAX``), else a shuffle
        join.  A leaf round — one whose pages request no children —
        writes the deferred backlog as the next frontier (nothing when
        none was deferred) and skips the expansion and seen dedup.  The
        stats' ``decisions`` name the plan each choice took."""
        manifest = self.read_manifest()
        rnd = manifest["round"]
        if manifest.get("done"):
            return {"round": rnd, "scheduled": 0, "done": True}
        if manifest.get("n_pending") == 0:
            self._commit_manifest({**manifest, "done": True})
            return {"round": rnd, "scheduled": 0, "done": True}
        t0 = time.monotonic()
        pending = self.spark.read.schema(FRONTIER_SCHEMA).parquet(self._p("frontier", rnd))

        # politeness short-circuit: when no per-host budgets are set and
        # the default budget can't bind (≥ the whole pending backlog,
        # known from the manifest), the two ranking shuffles are a no-op
        # — schedule everything, defer nothing.
        n_pending = manifest.get("n_pending")
        trivial_budget = (
            self.budgets is None
            and n_pending is not None
            and self.default_budget >= n_pending
        )
        if trivial_budget:
            decided = None
            scheduled = pending
            deferred = None
        else:
            decided = schedule_batch(
                pending,
                budgets=self.budgets,
                default_budget=self.default_budget,
                salt_buckets=self.salt_buckets,
            ).cache()
            scheduled = decided.filter(F.col("scheduled")).drop("scheduled")
            deferred = decided.filter(~F.col("scheduled")).drop("scheduled")

        # ACTION 1 — fetch + extract + records sink.  Fetch = equi-join
        # against the pages table (no network; the adapter seam of the
        # reference, parsers.py:1497-1517); frontier meta rides through
        # the UDF via passthrough.
        #
        # Fetch strategy: the page bodies are the heavy side (KBs per
        # row), the scheduled batch is narrow.  When the batch is small
        # enough to broadcast, build the join against the *streamed*
        # pages scan so the HTML never crosses a shuffle; the rows the
        # pages table misses are recovered with a broadcast anti-join
        # (cheap: url strings only).  Falls back to a shuffle join for
        # outsized batches (the 10^10-scale path, where AQE + runtime
        # bloom filters prune the scan instead).
        page_cols = ["url", self.text_col] + ([self.html_col] if self.html_col else [])
        body_cols = [c for c in page_cols if c != "url"]
        if self.adapter is not None:
            fetch_plan = "adapter"
            # pluggable adapter path (production HTTP seam, adapters.py):
            # one mapInPandas crossing per batch; real fetchers pool
            # connections per partition inside fetch_batch
            from ..adapters import fetch_with_adapter

            fetched = fetch_with_adapter(scheduled, self.adapter, text_col=self.text_col)
        else:
            pages_proj = self.pages.select(*page_cols)
            if n_pending is not None and n_pending <= BROADCAST_FETCH_MAX:
                fetch_plan = "broadcast"
                hits = pages_proj.join(F.broadcast(scheduled), "url", "inner")
                misses = scheduled.join(
                    F.broadcast(pages_proj.select("url").join(
                        F.broadcast(scheduled.select("url")), "url", "left_semi"
                    )),
                    "url",
                    "left_anti",
                )
                for c in body_cols:
                    misses = misses.withColumn(c, F.lit(None).cast(pages_proj.schema[c].dataType))
                fetched = hits.select(*scheduled.columns, *body_cols).unionByName(
                    misses.select(*scheduled.columns, *body_cols)
                )
            else:
                fetch_plan = "shuffle"
                fetched = scheduled.join(pages_proj, "url", "left")
        records = (
            extract_pages(
                fetched,
                self.storage_json,
                text_col=self.text_col,
                # adapter fetches deliver decoded text; no binary column
                html_col=None if self.adapter is not None else self.html_col,
                passthrough=tuple(c for c in _META_COLS if c != "url"),
            )
            .withColumn("round", F.lit(rnd))
            .withColumn("part_id", F.spark_partition_id())  # lineage
        )
        obs_rec = Observation()
        records = records.observe(
            obs_rec,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
            F.sum(F.when(F.col("requests").isNotNull(), F.size("requests")).otherwise(0)).alias(
                "children"
            ),
        )
        records.write.mode("overwrite").parquet(self._p("records", rnd))
        n_scheduled = int(obs_rec.get["n"])
        n_errors = int(obs_rec.get["errors"] or 0)
        n_children = int(obs_rec.get["children"] or 0)
        if n_scheduled == 0:
            self._commit_manifest({**manifest, "done": True})
            if decided is not None:
                decided.unpersist()
            return {"round": rnd, "scheduled": 0, "done": True}

        # the records just written are this round's seen-log entry.  No
        # dedup: the frontier is unique by url_hash (seeds deduped at
        # seed(); candidates window-deduped, anti-joined vs seen AND vs
        # the deferred backlog each round) and disjoint from seen, so
        # the rounds' records are pairwise disjoint by construction.
        seen_base = int(manifest.get("seen_base", 0) or 0)
        seen_total = int(manifest.get("seen_total", 0)) + n_scheduled
        compacted = rnd + 1 - seen_base >= self.seen_compact_every
        if compacted:
            # inline compaction: fold the log into one snapshot so deep
            # crawls never read an unbounded union.  COST NOTE: the
            # compacting round pays a one-time O(seen_total) write (vs
            # no seen write at all); at 10^10 seen rows production
            # would run this as an asynchronous Iceberg rewrite
            # (rewrite_data_files) off the hot path instead of inline.
            self._seen_view(manifest, rnd).write.mode("overwrite").parquet(
                self._p("seen", rnd + 1)
            )
            seen_base = rnd + 1

        # ACTION 2 — next-frontier sink.  The plan follows the child
        # count the records write observed:
        # - a LEAF round (no __request__ children; the reference ends a
        #   branch there, crawler.py:156-189) discovered nothing, so the
        #   next frontier is the deferred backlog alone, and is not
        #   written when the budget short-circuit deferred nothing: no
        #   records read-back, no filters, no seen view, no Bloom, no
        #   anti-join;
        # - otherwise the candidates are deduped (bloom pre-filter +
        #   exact anti-join vs seen, then vs the deferred backlog).  The
        #   bloom is sized from the observed seen_total (no count() job)
        #   and only engaged once the seen set is big enough to repay
        #   its build+probe stages — below the threshold a plain
        #   anti-join is strictly cheaper.
        expand = n_children > 0
        use_bloom = expand and seen_total >= self.bloom_min_seen
        flagged = None
        if not expand:
            next_frontier = deferred
        else:
            seen_next = self._seen_view({"seen_base": seen_base}, rnd)
            candidates = self._candidates(rnd, fetched)
            if use_bloom:
                bloom_df = self.bloom.build(seen_next, expected_total=seen_total)
                # cached: both branches of the definite-new/suspects split
                # read it, and the probe's Python pass runs once
                flagged = self.bloom.probe(candidates, bloom_df).cache()
                fresh = self.bloom.filter_probed(flagged, seen_next)
            else:
                fresh = candidates.join(seen_next.select("url_hash"), "url_hash", "left_anti")
            if deferred is not None:
                fresh = fresh.join(deferred.select("url_hash"), "url_hash", "left_anti")
                next_frontier = deferred.unionByName(fresh.select(*_META_COLS))
            else:
                next_frontier = fresh.select(*_META_COLS)
        n_pending_next = n_fresh = 0
        if next_frontier is not None:
            obs_front = Observation()
            next_frontier = next_frontier.observe(
                obs_front,
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col("discovered_round") == rnd + 1, 1).otherwise(0)
                ).alias("fresh"),
            )
            next_frontier.write.mode("overwrite").parquet(self._p("frontier", rnd + 1))
            n_pending_next = int(obs_front.get["n"])
            n_fresh = int(obs_front.get["fresh"] or 0)
        if flagged is not None:
            flagged.unpersist()

        stats = {
            "round": rnd,
            "scheduled": n_scheduled,
            "errors": n_errors,
            "new_candidates": n_fresh,
            "deferred": n_pending_next - n_fresh,
            "seen_total": seen_total,
            "wall_sec": round(time.monotonic() - t0, 3),
            "done": False,
            # the plan choices, from driver-side values only
            "decisions": {
                "budget": "trivial" if trivial_budget else "ranked",
                "fetch": fetch_plan,
                "expand": expand,
                "bloom": use_bloom,
                "compacted": compacted,
            },
        }
        (self.state_dir / "metrics").mkdir(exist_ok=True)
        (self.state_dir / "metrics" / f"r{rnd}.json").write_text(json.dumps(stats))
        self._commit_manifest(
            {
                "round": rnd + 1,
                "done": False,
                "n_pending": n_pending_next,
                "seen_total": seen_total,
                "seen_base": seen_base,
                "last_stats": stats,
            }
        )
        if decided is not None:
            decided.unpersist()
        return stats

    def expire_and_requeue(
        self, max_age_rounds: int, history: Optional[DataFrame] = None
    ) -> Dict[str, int]:
        """TTL recrawl: drop seen entries older than ``max_age_rounds``
        and requeue their URLs into the frontier (a maintenance round —
        state advances to round+1 so no path is read and rewritten in
        place).  It doubles as COMPACTION: the kept set becomes the
        snapshot ``seen/r{round+1}`` and seen_base advances past the
        records log.  The maintenance round takes round ``round``'s
        slot, so a ``records/r{round}`` left by a round that crashed
        before its commit is dropped, never returned by records() or
        counted as seen.  The Bloom pre-filter is derived state and
        follows automatically (rebuilt from the seen set every round
        that discovers links).
        No engine path builds a cuckoo filter; frontier/cuckoo.py's
        delete() is a standalone operator.

        ``history`` (optional): a (url_canon, fetch_count, change_count)
        table from the caller's fetch log.  When given, requeues are
        prioritized by the freshness model (frontier/freshness.py):
        priority = staleness − 1 ∈ [−1, 0) — frequently-changing pages
        recrawl first, while every recrawl still ranks below fresh
        discoveries (priority ≥ 0).  Without it, the flat −1 of before.
        """
        manifest = self.read_manifest()
        rnd = manifest["round"]
        seen = self._seen_view(manifest, rnd - 1)
        if Path(self._p("records", rnd)).exists():
            shutil.rmtree(self._p("records", rnd))
        # a round that left nothing pending wrote no frontier
        pending = (
            local_frame(self.spark, [], FRONTIER_SCHEMA)
            if manifest.get("n_pending") == 0
            else self.spark.read.schema(FRONTIER_SCHEMA).parquet(self._p("frontier", rnd))
        )

        cutoff = rnd - max_age_rounds
        kept = seen.filter(F.col("crawled_round") > cutoff)
        expired = seen.filter(F.col("crawled_round") <= cutoff)

        obs_seen = Observation()
        kept = kept.observe(obs_seen, F.count(F.lit(1)).alias("n"))
        kept.write.mode("overwrite").parquet(self._p("seen", rnd + 1))
        seen_kept = int(obs_seen.get["n"])

        if history is not None:
            from ..frontier.freshness import staleness_expr

            # plain left join: history is per-URL sized, so AQE picks the
            # strategy (broadcast only when the log actually is small)
            expired = expired.join(
                history.select("url_canon", "fetch_count", "change_count"),
                "url_canon",
                "left",
            )
            # unknown history -> staleness 0 -> flat -1, the old behavior
            priority = (
                F.coalesce(
                    staleness_expr(rnd + 1, last_round_col="crawled_round"),
                    F.lit(0.0),
                )
                - F.lit(1.0)
            )
        else:
            priority = F.lit(-1).cast("double")  # recrawls rank below fresh finds
        requeued = add_url_keys(
            expired.select(
                F.col("url_canon").alias("url"),
                priority.alias("priority"),
                F.lit(0).alias("depth"),
                F.lit(None).cast("string").alias("parent_url"),
                F.lit(0).alias("list_index"),
                F.lit(rnd + 1).alias("discovered_round"),
            )
        ).select(*_META_COLS)
        # pending URLs win over a requeue of the same canon (rare; only
        # possible if a URL was both deferred and expired-seen — keep one)
        requeued = requeued.join(pending.select("url_hash"), "url_hash", "left_anti")
        next_frontier = pending.unionByName(requeued)
        obs_front = Observation()
        next_frontier = next_frontier.observe(obs_front, F.count(F.lit(1)).alias("n"))
        next_frontier.write.mode("overwrite").parquet(self._p("frontier", rnd + 1))
        n_pending = int(obs_front.get["n"])

        stats = {
            "round": rnd,
            "maintenance": "expire_and_requeue",
            "seen_kept": seen_kept,
            "requeued": n_pending - (int(manifest.get("n_pending", 0) or 0)),
            "n_pending": n_pending,
        }
        self._commit_manifest(
            {
                "round": rnd + 1,
                "done": n_pending == 0,
                "n_pending": n_pending,
                "seen_total": seen_kept,
                "seen_base": rnd + 1,  # compaction: the log is superseded
                "last_stats": stats,
            }
        )
        return stats

    def run(self, max_rounds: int = 100) -> List[Dict[str, int]]:
        out = []
        for _ in range(max_rounds):
            stats = self.run_round()
            out.append(stats)
            if stats.get("done") or stats["scheduled"] == 0:
                break
        return out

    # -------------------------------------------------------------- outputs
    def records(self) -> DataFrame:
        """Records of the committed rounds 0..round-1 (a maintenance
        round writes none; round ``round`` is uncommitted, or the empty
        finish of a done crawl).  Before the first commit: an empty frame
        with the records' columns."""
        rnd = self.read_manifest()["round"]
        paths = [self._p("records", r) for r in range(rnd) if Path(self._p("records", r)).exists()]
        if not paths:
            return local_frame(self.spark, [], RECORDS_SCHEMA)
        return self.spark.read.schema(RECORDS_SCHEMA).parquet(*paths)

    def seen(self) -> DataFrame:
        manifest = self.read_manifest()
        if manifest["round"] < 0:
            raise FileNotFoundError("no seen state; call seed() first")
        return self._seen_view(manifest, manifest["round"] - 1)

    def assemble_results(self, seed_urls: List[str]) -> List[dict]:
        """Driver-side re-nesting of records into reference-shaped crawl
        results (test scale only — collect()s all records)."""
        rows = {r["url"]: r.asDict() for r in self.records().collect()}
        drop_by_host: Dict[str, set] = {}
        if self.dust_rules is not None:
            # aliases were rewritten pre-fetch, so a child named by its
            # raw __request__ string resolves to the canonical's record
            for r in self.dust_rules.collect():
                drop_by_host.setdefault(r["host"], set()).add(r["param"])

        def lookup(url: str):
            rec = rows.get(url)
            if rec is None and drop_by_host:
                import re as _re

                from .dust import _HOST_RE, strip_params_py

                m = _re.match(_HOST_RE, url)
                drop = drop_by_host.get(m.group(1) if m else "")
                if drop:
                    rec = rows.get(strip_params_py(url, drop))
            return rec

        def build(url: str, path: frozenset):
            rec = lookup(url)
            if rec is None or rec["result"] is None:
                err = rec["error"] if rec else None
                return err if err else None
            result = config.json_loads(rec["result"])
            requests = rec["requests"]
            if requests is not None and rec["rule_name"]:
                payload = result[rec["rule_name"]]
                # scalar __request__ attaches a single result, list a list
                # (reference crawler.py:176-189)
                original = payload.get(config.REQUEST_KEY)
                if isinstance(original, (list, tuple)):
                    payload[config.RESULT_KEY] = [
                        None if child in path else build(child, path | {child})
                        for child in requests
                    ]
                else:
                    child = requests[0]
                    payload[config.RESULT_KEY] = None if child in path else build(child, path | {child})
            return result

        return [build(u, frozenset({u})) for u in seed_urls]
