"""The driver-facing query suite: Spark queries + DuckDB oracle twins.

One registry.  Each query is a function ``q_<name>(spark, sf_dir) ->
DataFrame`` decorated with ``@query(oracle_sql)``; the decorator files
it under ``<name>`` in ``QUERIES`` and its oracle -- ANSI SQL that
DuckDB runs over the same parquet tables -- under ``<name>`` in
``ORACLES``.  So every query has an oracle by construction, the oracle
sits directly above the function it checks, a name registered twice
raises, and ``QUERIES`` iterates in declaration order.  An oracle
shared by several queries is one named constant (``_DEDUP_CLUSTERS_SQL``,
``_LINKS_SQL``, ``_DEVOWEL_SQL``, ``_RULE_LOADER_SQL``,
``_VERIFIED_PAIRS_SQL``); SQL fragments several oracles splice in
(``_TOKS``, ``_NORM``, ``_hexbyte``, ``_PAGE_SQL``, ``_GRAPH_SQL``,
``_IPS_SQL``, the PII patterns) are defined once, ahead of the queries.

Column names and value representations are aligned exactly
(aggregates via exact decimal sums cast to double, ratios rounded at
fixed precision, hashes from the portable md5 family) so an
order-insensitive value-hash comparison passes;
``tools/check_oracle.py`` runs that comparison.

Sections, in file order:
  relational ............. TPC-H / event shapes, URL and politeness
                           plumbing (pricing_summary .. json_props)
  rule engine ............ compiled rule chains over documents, plus the
                           WARC/WET/sitemap/CDX source connectors
                           (rule_first3 .. rule_children)
  text analysis .......... token_stats, quality_scores
  corpus cleaning ........ the C4/Gopher/RefinedWeb pass
                           (c4_line_filter .. text_normalize)
  link graph ............. degrees and rank iterations, then page
                           extraction, near-dup clusters and langid
                           (link_degrees .. doc_fingerprints)
  dedup .................. corpus/host aggregates, DUST, traps, link
                           extraction, fetch history (corpus_filter ..
                           readability)
  corpus assembly ........ decontamination, sampling, packing, mixing,
                           then the MinHash/SimHash dedup family
                           (decontaminate .. ngram_jaccard_pairs)
  similarity ............. embedding top-k, ANN and verified pairs
                           (cosine_topk .. embedding_verified_pairs)
  multimodal ............. media plumbing and late additions
                           (embedding_clusters .. linear_scores)
  retrieval, encoding, crawl hygiene
                           (bm25_index .. ngram_lm)
  streaming surface ...... real Structured Streaming queries drained to
                           a batch result (stream_host_rates ..
                           stream_triage)
  IP networks, sampling, link spam (asn_tag .. leakage_split)
  archives, graph structure, corpus audits (wat_scan .. stopwords)
"""

from __future__ import annotations

import os
import re
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import config
from .engine.extract import extract_pages
from .engine.rows import local_frame
from .engine.session import ship_package
from .frontier.domains import registrable_domain_sql_literal
from .streaming import dedup_stream, host_rate_metrics, run_to_parquet
from .testgen import BASE_EPOCH
from .textops import (
    cosine_topk,
    verified_near_dups,
    doc_fingerprints,
    embedding_dup_pairs,
    embedding_verified_pairs,
    exact_dup_groups,
    langid,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    quality_scores,
    rhp_lsh_topk,
    rhp_multiprobe_topk,
    simhash_groups,
    token_stats,
)
from .textops.clean import (
    c4_line_filter,
    ngram_repetition,
    para_dedup,
    pii_redact,
    repetition_stats,
    top_tokens,
    with_page,
)
from .textops.multimodal import decode_media, docs_as_media

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def query(oracle_sql: str):
    """Register ``q_<name>`` as query ``<name>`` with its DuckDB oracle:
    the ANSI SQL over the same parquet tables that must return the same
    rows.  ``QUERIES`` keeps declaration order; a name registered twice
    raises."""

    def register(fn):
        name = fn.__name__.removeprefix("q_")
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        ORACLES[name] = oracle_sql
        return fn

    return register


# read metadata per table file version (see _stamp): the schema Spark
# infers, and the scan's partition count per defaultParallelism
_SCHEMAS: dict = {}
_SPLITS: dict = {}


def _stamp(path: str) -> tuple:
    """The version of a table file, or of every file under a table
    directory: (realpath, st_ino, st_size, st_mtime_ns, st_ctime_ns)
    each.  A rewrite in place changes the inode or ctime even when the
    size and mtime are put back."""
    real = os.path.realpath(path)
    files = [real]
    if os.path.isdir(real):
        files = sorted(os.path.join(d, f) for d, _, names in os.walk(real) for f in names)
    stats = [(f, os.stat(f)) for f in files]
    return tuple((f, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns) for f, st in stats)


def _table(spark: SparkSession, sf_dir: str, name: str):
    """``(df, stamp)`` for table ``name``: the first read of a file
    version infers its schema (a footer job); later reads pass that
    schema and run none."""
    # the driver harness may build its own SparkSession without
    # --py-files, and the suite's mapInPandas functions are pickled by
    # reference
    try:
        ship_package(spark)
    except Exception:  # noqa: BLE001 - best-effort (cwd import may suffice)
        pass
    path = f"{sf_dir}/{name}.parquet"
    # stamped before the read: a rewrite during it is seen next time
    stamp = _stamp(path)
    if stamp in _SCHEMAS:
        return spark.read.schema(_SCHEMAS[stamp]).parquet(path), stamp
    df = spark.read.parquet(path)
    _SCHEMAS[stamp] = df.schema
    return df, stamp


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _table(spark, sf_dir, name)[0]


def tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table load for COMPUTE-heavy queries (rule chains, hashing,
    vector math).  The driver's test tables are single-row-group
    parquet files, so the scan yields ONE task and per-doc compute
    serializes on one core no matter the cluster size; a guarded
    round-robin repartition restores compute parallelism.  At
    production scale the scan already splits to >= cores partitions
    and this is a no-op — the guard, not the repartition, is the
    load-bearing part.  The scan's partition count is planned once per
    file version and ``defaultParallelism``, like the schema in
    :func:`t`.  Catalyst still pushes filters/pruning through the
    Repartition to the scan."""
    df, stamp = _table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    key = (stamp, target)
    if key not in _SPLITS:
        _SPLITS[key] = df.rdd.getNumPartitions()
    if _SPLITS[key] < target:
        df = df.repartition(target)
    return df


def _dec(col: str, p: int) -> F.Column:
    return F.col(col).cast(f"decimal({p},2)")


# ------------------------------------------------ shared oracle SQL fragments
# DuckDB dialect; the oracles below splice these in.
_TOKS = r"string_split_regex(trim(text), '\s+')"
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_HEXV = "(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"


def _hexbyte(h: str, byte_idx: int) -> str:
    """SQL for the byte_idx-th byte (0-based) of a hex digest string."""
    hi = _HEXV.format(h=h, i=2 * byte_idx + 1)
    lo = _HEXV.format(h=h, i=2 * byte_idx + 2)
    return f"({hi} * 16 + {lo})"


# Shared page-synthesis CTE — must stay bit-identical to
# textops/clean.py synth_page_expr (parity is what the oracle checks).
_PAGE_SQL = r"""pages AS (
    SELECT doc_id,
      'home about contact login' || chr(10) || chr(10) || body
      || chr(10) || chr(10) || split_part(body, chr(10), 1)
      || chr(10) || chr(10) || 'contact user' || CAST(doc_id % 50 AS VARCHAR)
      || '@example.com call +1 555 ' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
      || CAST((doc_id * 7) % 256 AS VARCHAR)
      || chr(10) || chr(10) || 'copyright example com all rights reserved.'
        AS page
    FROM (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(text, '((?:\S+ ){7}\S+) ', E'\\1\n', 'g'),
            '(table|value)(\n)', E'\\1.\\2', 'g'),
          '((?:[^\n]+\n){3}[^\n]+)\n', E'\\1\n\n', 'g') AS body
      FROM documents
    )
)"""

# Deterministic circulant link graph shared by the graph oracles —
# must stay identical to graph.synth_edges.
# (DuckDB 1.0.0 binder bug: unnest of a computed list plus an outer
# filter on its alias trips an INTERNAL error — materialize the list in
# its own CTE layer first.)
_GRAPH_SQL = r"""
        WITH lists AS (
          SELECT doc_id AS src,
            [(doc_id*7 + 1) % nn.n, (doc_id*7 + 2) % nn.n,
             (doc_id*7 + 3) % nn.n] AS dl
          FROM documents CROSS JOIN (SELECT count(*) AS n FROM documents) nn
        ),
        flat AS (SELECT src, unnest(dl) AS dst FROM lists),
        edges AS (SELECT src, dst FROM flat WHERE src <> dst)"""

# PII patterns of the pii_redact oracle.
_EMAIL_SQL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_SQL = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PHONE_SQL = r"\+[0-9]{1,2} [0-9]{3} [0-9]{4}"

# The deterministic resolver stand-in (assign_hosting_ips) in DuckDB terms.
_IPS_SQL = r"""
    WITH hosts AS (
      SELECT DISTINCT 'h' || CAST(doc_id % 499 AS VARCHAR) || '.example.org'
             AS host
      FROM documents),
    hp AS (
      SELECT host,
             ('0x' || substr(md5('prov:' || host), 1, 2))::BIGINT AS p
      FROM hosts),
    ips AS (
      SELECT host,
        CASE WHEN p < 192 THEN
          ('0x' || substr(md5('provip:' || CAST(p % 24 AS VARCHAR)), 1, 6))::BIGINT
        ELSE
          ('0x' || substr(md5('hostip:' || host), 1, 6))::BIGINT
        END AS ip24,
        CAST(p < 192 AS INT) AS shared
      FROM hp)
"""


# --------------------------------------------------------------- relational
@query("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
          COUNT(*) AS count_order,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
          ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2
    """)
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: single-shuffle groupBy with map-side partial
    aggregation; exact decimal sums so the oracle matches bit-for-bit."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    price = _dec("l_extendedprice", 18)
    disc = _dec("l_discount", 4)
    tax = _dec("l_tax", 4)
    qty = _dec("l_quantity", 8)
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn(
            "avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6)
        )
    )
    return out


@query("""
        SELECT p_brand,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """)
def q_revenue_by_brand(spark, sf_dir):
    """Fact⋈dim with explicit broadcast of the small side — zero shuffle
    of lineitem for the join; only the final groupBy shuffles."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    price = _dec("l_extendedprice", 18)
    disc = _dec("l_discount", 4)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 250000)
    """)
def q_customers_without_orders(spark, sf_dir):
    """Left anti join — the seen-set dedup primitive of the frontier."""
    cust = t(spark, sf_dir, "customer")
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .select("o_custkey")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query("""
        SELECT user_id, event_id, value, rn FROM (
          SELECT user_id, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
          FROM events
        ) WHERE rn <= 2
    """)
def q_top_events_per_user(spark, sf_dir):
    """Window top-k per partition key (the fetch-batch ranking shape)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("user_id", "event_id", "value", "rn")
    )


@query("""
        SELECT user_id,
          CAST(SUM(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_scheduled,
          CAST(SUM(CASE WHEN rn > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_deferred
        FROM (
          SELECT user_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ) GROUP BY 1
    """)
def q_politeness_budget(spark, sf_dir):
    """The politeness scheduler's core shape: rank rows within each
    host-analog (user_id) by time and split into scheduled (≤ budget)
    vs deferred."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("user_id").agg(
        F.sum(F.when(F.col("rn") <= 5, 1).otherwise(0)).cast("long").alias("n_scheduled"),
        F.sum(F.when(F.col("rn") > 5, 1).otherwise(0)).cast("long").alias("n_deferred"),
    )


@query("""
        SELECT regexp_extract(
                 'https://shop-' || (o_custkey % 20) || '.example.com:443/order/' || o_orderkey,
                 '^https?://([^/:]+)', 1) AS host,
               COUNT(*) AS n_urls
        FROM orders GROUP BY 1
    """)
def q_host_extract(spark, sf_dir):
    """URL synthesis + host extraction (get_host as a relational op)."""
    o = t(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop-"),
        (F.col("o_custkey") % 20).cast("string"),
        F.lit(".example.com:443/order/"),
        F.col("o_orderkey").cast("string"),
    )
    host = F.regexp_extract(url, "^https?://([^/:]+)", 1)
    return (
        o.select(host.alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )


@query("""
        WITH u AS (
          SELECT o_orderkey AS id, o_orderkey % 6 AS v,
                 CAST(o_orderkey AS VARCHAR) AS ks
          FROM orders
        )
        SELECT id,
          CASE v
            WHEN 0 THEN 'https://Shop-A.Example.COM/order/' || ks
            WHEN 1 THEN 'http://shop-b.example.com:80/order/' || ks
            WHEN 2 THEN 'https://shop-c.example.com:443/order/' || ks || '?'
            WHEN 3 THEN 'HTTP://SHOP-D.example.com/x/' || ks || '?a=1'
            WHEN 4 THEN 'shop-e.example.com/order/' || ks || '?'
            ELSE 'https://shop-f.example.com:8080/z/' || ks END AS url,
          CASE v
            WHEN 0 THEN 'https://shop-a.example.com/order/' || ks
            WHEN 1 THEN 'http://shop-b.example.com/order/' || ks
            WHEN 2 THEN 'https://shop-c.example.com/order/' || ks
            WHEN 3 THEN 'http://shop-d.example.com/x/' || ks || '?a=1'
            WHEN 4 THEN 'shop-e.example.com/order/' || ks
            ELSE 'https://shop-f.example.com:8080/z/' || ks END AS url_canon,
          CASE v
            WHEN 0 THEN 'shop-a.example.com'
            WHEN 1 THEN 'shop-b.example.com'
            WHEN 2 THEN 'shop-c.example.com'
            WHEN 3 THEN 'shop-d.example.com'
            WHEN 4 THEN ''
            ELSE 'shop-f.example.com:8080' END AS host
        FROM u
    """)
def q_url_canonical(spark, sf_dir):
    """The frontier's URL canonicalizer (native exprs, no Python) over
    six messy-URL shapes: case, default ports :80/:443, trailing '?',
    scheme-less, non-default port preserved (urls.py canonicalize_url
    semantics; reference keys rules by exact URL, crawler.py:137 —
    canonicalization is the engine's seen-set addition)."""
    from .frontier.seen import add_url_keys

    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ks = k.cast("string")
    variants = F.array(
        F.concat(F.lit("https://Shop-A.Example.COM/order/"), ks),
        F.concat(F.lit("http://shop-b.example.com:80/order/"), ks),
        F.concat(F.lit("https://shop-c.example.com:443/order/"), ks, F.lit("?")),
        F.concat(F.lit("HTTP://SHOP-D.example.com/x/"), ks, F.lit("?a=1")),
        F.concat(F.lit("shop-e.example.com/order/"), ks, F.lit("?")),
        F.concat(F.lit("https://shop-f.example.com:8080/z/"), ks),
    )
    urls = o.select(k.alias("id"), F.element_at(variants, (k % 6 + 1).cast("int")).alias("url"))
    return add_url_keys(urls).select("id", "url", "url_canon", "host")


@query("""
        WITH pending AS (
          SELECT 'h' || (o_orderkey % 8) AS host,
                 'https://h' || (o_orderkey % 8) || '/p/' || o_orderkey AS url_canon,
                 o_orderkey % 3 AS priority,
                 o_orderkey % 5 AS depth,
                 o_orderkey % 100 AS list_index
          FROM orders
        )
        SELECT url_canon, host,
               CASE WHEN ROW_NUMBER() OVER (
                 PARTITION BY host
                 ORDER BY priority DESC, depth, list_index, url_canon
               ) <= 50 THEN 1 ELSE 0 END AS scheduled
        FROM pending
    """)
def q_schedule_split(spark, sf_dir):
    """THE politeness scheduler itself (frontier/politeness.py
    schedule_batch): salted two-phase pre-trim + exact per-host window.
    The oracle is the plain (unsalted) SQL window — the pre-trim must
    be EXACTLY result-preserving (the correctness property the salted
    design proves; see politeness.py docstring)."""
    from .frontier.politeness import schedule_batch

    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    pending = o.select(
        F.concat(F.lit("h"), (k % 8).cast("string")).alias("host"),
        F.concat(F.lit("https://h"), (k % 8).cast("string"), F.lit("/p/"), k.cast("string")).alias("url_canon"),
        (k % 3).cast("int").alias("priority"),
        (k % 5).cast("int").alias("depth"),
        F.lit(0).alias("discovered_round"),
        F.lit(None).cast("string").alias("parent_url"),
        (k % 100).cast("int").alias("list_index"),
    )
    out = schedule_batch(pending, default_budget=50, salt_buckets=4)
    return out.select("url_canon", "host", F.col("scheduled").cast("int").alias("scheduled"))


@query("""
        SELECT o_orderkey AS id,
               'h' || (o_orderkey % 4) || '.example.org' AS host,
               'https://h' || (o_orderkey % 4) || '.example.org'
                 || (CASE o_orderkey % 3 WHEN 0 THEN '/a/x'
                                         WHEN 1 THEN '/a/b/y'
                                         ELSE '/c/z' END)
                 || '/' || o_orderkey AS url_canon
        FROM orders
        -- h0: disallow /a/ unless allow /a/b/ is longer; h1: disallow /
        -- unless allow /c/; h2: wildcard /c/* unless /c/z/1* allows;
        -- h3: anchored /a/x/*0$ blocks only keys ending in 0
        WHERE NOT ((o_orderkey % 4 = 0 AND o_orderkey % 3 = 0)
                OR (o_orderkey % 4 = 1 AND o_orderkey % 3 <> 2)
                OR (o_orderkey % 4 = 2 AND o_orderkey % 3 = 2
                    AND CAST(o_orderkey AS VARCHAR) NOT LIKE '1%')
                OR (o_orderkey % 4 = 3 AND o_orderkey % 3 = 0
                    AND CAST(o_orderkey AS VARCHAR) LIKE '%0'))
    """)
def q_robots_filter(spark, sf_dir):
    """The robots disallow/allow filter (RFC 9309 most-specific-match,
    frontier/robots.py apply_robots): broadcast-joined rule arrays +
    pure expressions, including '*' wildcards and the '$' end anchor.
    Hosts without a robots row pass through; the longer matching rule
    wins between allow and disallow (§2.2.2)."""
    from .frontier.robots import apply_robots

    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    host = F.concat(F.lit("h"), (k % 4).cast("string"), F.lit(".example.org"))
    path = F.element_at(
        F.array(F.lit("/a/x"), F.lit("/a/b/y"), F.lit("/c/z")), (k % 3 + 1).cast("int")
    )
    cand = o.select(
        k.alias("id"),
        host.alias("host"),
        F.concat(F.lit("https://"), host, path, F.lit("/"), k.cast("string")).alias("url_canon"),
    )
    robots = local_frame(
        spark,
        [
            ("h0.example.org", 1.0, ["/a/"], ["/a/b/"]),
            ("h1.example.org", 1.0, ["/"], ["/c/"]),
            # wildcard: /c/* blocked unless the longer /c/z/1* allows
            ("h2.example.org", 1.0, ["/c/*"], ["/c/z/1*"]),
            # end anchor: only /a/x/<k ending in 0> blocked
            ("h3.example.org", 1.0, ["/a/x/*0$"], []),
        ],
        "host string, crawl_delay double, disallow array<string>, allow array<string>",
    )
    return apply_robots(cand, robots).select("id", "host", "url_canon")


@query("""
        SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket,
               COUNT(*) AS n_events,
               MIN(epoch_ms(ts)) AS first_ms,
               MAX(epoch_ms(ts)) AS last_ms
        FROM events GROUP BY 1
    """)
def q_time_roundtrip(spark, sf_dir):
    """Time encode/decode (the reference TimeParser semantics pinned to
    UTC): format + epoch-millis extremes per hour bucket."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour_bucket"),
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        )
        .groupBy("hour_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ms").alias("first_ms"),
            F.max("ms").alias("last_ms"),
        )
    )


@query("""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY 1
    """)
def q_json_props(spark, sf_dir):
    """JSON scalar extraction (the loader/jsonpath fast path)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("long").alias("sum_k"))
    )


# -------------------------------------------------------------- rule engine
_DOCS_HOST = "docs.example.org"


def _single_host_storage(host: str, rule_name: str, regex: str, parse_rules: list) -> str:
    return config.json_dumps(
        {
            host: {
                "host": host,
                "crawler_rules": {
                    rule_name: {
                        "name": rule_name,
                        "request_args": {"method": "get", "url": f"https://{host}/"},
                        "parse_rules": parse_rules,
                        "regex": regex,
                    }
                },
            }
        }
    )


def _rule_query(spark, sf_dir, table, path, text_expr, parse_rules, rule="r", out_cols=None):
    """The rule-query runner: pages (url, text) over a page table (url
    https://docs.example.org/<path>/<doc_id> for documents,
    https://api.example.org/<path>/<event_id> for events), the compiled
    chain engine under a one-rule storage for that host, then result
    fields projected with get_json_object — by default one string
    column per parse rule, named after the rule."""
    id_col, host = {"documents": ("doc_id", _DOCS_HOST), "events": ("event_id", "api.example.org")}[table]
    prefix = f"https://{host}/{path}/"
    pages = tp(spark, sf_dir, table).select(
        F.concat(F.lit(prefix), F.col(id_col).cast("string")).alias("url"),
        text_expr.alias("text"),
    )
    storage = _single_host_storage(host, rule, "^" + re.escape(prefix) + r"\d+$", parse_rules)
    if out_cols is None:
        out_cols = [
            F.get_json_object("result", f"$.{rule}.{r['name']}").alias(r["name"])
            for r in parse_rules
        ]
    return extract_pages(pages, storage).select("url", *out_cols)


@query("""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               array_to_string(regexp_extract_all(text, '[a-z]+')[1:3], ' ') AS first3
        FROM documents
    """)
def q_rule_first3(spark, sf_dir):
    """The compiled rule-chain engine (re → getitem → join) run as a
    fused mapInPandas over the documents table — EP2 of the reference."""
    chain = [
        ["re", "[a-z]+", ""],
        ["python", "getitem", "[:3]"],
        ["python", "join", " "],
    ]
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        F.col("text"),
        [{"name": "first3", "chain_rules": chain, "child_rules": []}],
        rule="doc",
    )


@query("""
        SELECT 'https://docs.example.org/h/' || doc_id AS url,
               'Doc ' || doc_id AS title,
               '/d/' || (doc_id*3) || '/,/d/' || (doc_id*3+1) || '/,/d/' || (doc_id*3+2) || '/' AS links
        FROM documents
    """)
def q_rule_css(spark, sf_dir):
    """CSS-selector chains ($text / @attr extraction + join) through the
    pure-Python DOM engine, validated against an independently
    constructed oracle (the HTML is synthesized from doc_id, so DuckDB
    can predict the extraction output exactly)."""
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><h1 class="title">Doc '), d,
        F.lit("</h1><ul>"),
        F.lit('<li><a class="lnk" href="/d/'), (F.col("doc_id") * 3).cast("string"),
        F.lit('/">one</a></li>'),
        F.lit('<li><a class="lnk" href="/d/'), (F.col("doc_id") * 3 + 1).cast("string"),
        F.lit('/">two</a></li>'),
        F.lit('<li><a class="lnk" href="/d/'), (F.col("doc_id") * 3 + 2).cast("string"),
        F.lit('/">three</a></li>'),
        F.lit("</ul></body></html>"),
    )
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "h",
        html,
        [
            {
                "name": "title",
                "chain_rules": [["css", "h1.title", "$text"], ["python", "getitem", "[0]"]],
                "child_rules": [],
            },
            {
                "name": "links",
                "chain_rules": [["css", "li > a.lnk", "@href"], ["python", "join", ","]],
                "child_rules": [],
            },
        ],
        rule="page",
    )


@query("""
        SELECT 'https://docs.example.org/s/' || doc_id AS url,
               'Doc ' || doc_id AS title,
               CAST(NULL AS VARCHAR) AS miss_css1,
               '' AS miss_se1,
               '/d/' || doc_id || '/' AS href
        FROM documents
    """)
def q_rule_css1(spark, sf_dir):
    """Single-match selector variants and their distinct miss
    semantics: css1 → None (null) on miss, se1 → '' (empty string);
    selectolax engine for list extraction."""
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><h1 class="title">Doc '), d,
        F.lit('</h1><a class="lnk" href="/d/'), d,
        F.lit('/">link '), d, F.lit("</a></body></html>"),
    )
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "s",
        html,
        [
            {"name": "title", "chain_rules": [["css1", "h1.title", "$text"]], "child_rules": []},
            {"name": "miss_css1", "chain_rules": [["css1", "h2.missing", "$text"]], "child_rules": []},
            {"name": "miss_se1", "chain_rules": [["se1", "h2.missing", "$text"]], "child_rules": []},
            {"name": "href", "chain_rules": [["selectolax", "a.lnk", "@href"], ["python", "getitem", "[0]"]], "child_rules": []},
        ],
        rule="s1",
    )


@query("""
        SELECT 'https://docs.example.org/x/' || doc_id AS url,
               'Doc ' || doc_id AS title,
               '/d/' || (doc_id*3) || '/,/d/' || (doc_id*3+2) || '/' AS firsts,
               '/d/' || (doc_id*3+1) || '/' AS ul1_last,
               'sum ' || doc_id AS lang_text
        FROM documents
    """)
def q_rule_xpath(spark, sf_dir):
    """XPath-subset chains (beyond the reference, whose xml parser is
    CSS-based — parsers.py:336): per-context positional predicates
    (//li[1] = first li of EVERY ul), attribute steps, last(), and a
    contains() predicate, all through the fused chain engine.  The HTML
    carries TWO lists so the per-context //li[1] semantics are visible
    in the oracle (two firsts, not one)."""
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><h1 class="title">Doc '), d,
        F.lit("</h1><ul>"),
        F.lit('<li><a href="/d/'), (F.col("doc_id") * 3).cast("string"),
        F.lit('/">one</a></li>'),
        F.lit('<li><a href="/d/'), (F.col("doc_id") * 3 + 1).cast("string"),
        F.lit('/">two</a></li>'),
        F.lit('</ul><ul><li><a href="/d/'), (F.col("doc_id") * 3 + 2).cast("string"),
        F.lit('/">three</a></li></ul><p lang="en-US">sum '), d,
        F.lit("</p></body></html>"),
    )
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "x",
        html,
        [
            {
                "name": "title",
                "chain_rules": [
                    ["xpath", "//h1[@class='title']/text()", ""],
                    ["python", "getitem", "[0]"],
                ],
                "child_rules": [],
            },
            {
                "name": "firsts",
                "chain_rules": [
                    ["xpath", "//li[1]/a/@href", ""],
                    ["python", "join", ","],
                ],
                "child_rules": [],
            },
            {
                "name": "ul1_last",
                "chain_rules": [
                    ["xpath", "//ul[1]/li[last()]/a", "@href"],
                    ["python", "getitem", "[0]"],
                ],
                "child_rules": [],
            },
            {
                "name": "lang_text",
                "chain_rules": [
                    ["xpath", "//p[starts-with(@lang,'en')]/text()", ""],
                    ["python", "getitem", "[0]"],
                ],
                "child_rules": [],
            },
        ],
        rule="xp",
    )


# BASE_EPOCH (testgen) = 1580732985; WARC-Date has second
# resolution, which the synthesis respects by construction
@query(r"""
        SELECT 'https://sink.example.org/d/' || CAST(doc_id AS VARCHAR) AS url,
               text, lang,
               1580732985 + doc_id AS warc_epoch
        FROM documents
    """)
def q_warc_sink_roundtrip(spark, sf_dir):
    """The distributed WARC SINK (sources/warc.py write_warc) driven
    end-to-end: pages → one .warc.gz segment per partition
    (rename-commit) → re-read through read_warc's binaryFile scan.
    The oracle predicts the round-trip straight from documents, so a
    header-layout, charset, Content-Language or timestamp bug in
    EITHER direction breaks parity."""
    import tempfile

    from .sources.warc import read_warc, write_warc
    from .testgen import BASE_EPOCH

    d = F.col("doc_id")
    docs = tp(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    pages = docs.select(
        F.concat(F.lit("https://sink.example.org/d/"), d.cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(BASE_EPOCH) + d).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        "lang",
    )
    out_dir = tempfile.mkdtemp(prefix="us_warc_sink_")
    write_warc(pages, out_dir).count()  # commit the segments
    back = read_warc(spark, out_dir)
    return back.select(
        "url",
        "text",
        "lang",
        F.unix_timestamp("warc_ts").cast("long").alias("warc_epoch"),
    )


@query("""
        SELECT 'https://warc.example.org/d/' || doc_id AS url,
               text,
               'en' AS lang,
               CAST(epoch(TIMESTAMP '2026-01-02 03:04:05') AS BIGINT) AS warc_epoch
        FROM documents
    """)
def q_warc_scan(spark, sf_dir):
    """WARC source connector (sources/warc.py) round-trip: each
    partition of the documents table is encoded as a Common-Crawl-style
    WARC stream (gzip member per response record, HTTP/1.1 payload) and
    parsed back through the stdlib record parser — one Arrow-batched
    mapInPandas, no shuffle, no filesystem.  The oracle predicts the
    parser's output straight from the documents table, so any header
    mis-split, charset slip, or record-boundary bug breaks parity."""
    import pandas as pd
    from datetime import datetime, timezone

    from .sources.warc import build_warc, records_to_pages

    ts = datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    docs = tp(spark, sf_dir, "documents").select("doc_id", "text")

    def roundtrip(batches):
        for b in batches:
            recs = [
                (f"https://warc.example.org/d/{i}", ts, t.encode("utf-8"))
                for i, t in zip(b["doc_id"], b["text"])
            ]
            pages = list(records_to_pages(build_warc(recs, content_language="en")))
            yield pd.DataFrame(
                {
                    "url": [p["url"] for p in pages],
                    "text": [p["text"] for p in pages],
                    "lang": [p["lang"] for p in pages],
                    "warc_epoch": [int(p["warc_ts"].timestamp()) for p in pages],
                }
            )

    return docs.mapInPandas(
        roundtrip, schema="url string, text string, lang string, warc_epoch long"
    )


@query(r"""
        WITH resp AS (
          SELECT 'https://warc.example.org/d/' || CAST(doc_id AS VARCHAR) AS url,
                 1700000000 + doc_id AS epoch,
                 'response' AS warc_type,
                 'md5:' || md5(text) AS digest
          FROM documents
        ),
        rev AS (
          SELECT 'https://warc.example.org/r/' || CAST(doc_id AS VARCHAR) AS url,
                 1700000000 + doc_id + 100000 AS epoch,
                 'revisit' AS warc_type,
                 CASE WHEN doc_id % 4 = 0 THEN 'md5:' || md5(text)
                      ELSE 'md5:' || repeat('0', 32) END AS digest
          FROM documents WHERE doc_id % 4 = 0 OR doc_id % 10 = 7
        ),
        allr AS (SELECT * FROM resp UNION ALL SELECT * FROM rev),
        e AS (SELECT digest, min(epoch) AS me FROM resp GROUP BY digest),
        c AS (
          SELECT r.digest, min(r.url) AS curl, min(r.epoch) AS cep
          FROM resp r JOIN e ON r.digest = e.digest AND r.epoch = e.me
          GROUP BY r.digest
        )
        SELECT a.url, a.epoch, a.warc_type, a.digest,
               CASE WHEN a.warc_type <> 'revisit' AND a.url = c.curl
                         AND a.epoch = c.cep THEN 'original'
                    WHEN a.warc_type <> 'revisit' THEN 'duplicate'
                    WHEN c.curl IS NOT NULL THEN 'revisit_resolved'
                    ELSE 'revisit_orphan' END AS verdict,
               c.curl AS original_url
        FROM allr a LEFT JOIN c ON a.digest = c.digest
    """)
def q_warc_revisits(spark, sf_dir):
    """WARC revisit-record resolution (sources/warc.py records_index +
    revisit_resolution): responses plus identical-payload-digest
    revisit records round-trip through the writer/parser, then one
    digest-keyed canonical election assigns
    original/duplicate/revisit_resolved/revisit_orphan verdicts.  The
    corpus's exact-duplicate texts make `duplicate` rows real (two
    responses sharing a digest elect the earlier capture); every 4th
    doc gets a matching revisit, and docs ≡7 (mod 10) get an orphan
    revisit whose digest matches nothing."""
    import hashlib
    from datetime import datetime, timezone

    import pandas as pd

    from .sources.warc import (
        build_warc,
        build_warc_revisits,
        records_index,
        revisit_resolution,
    )

    base = 1_700_000_000
    docs = tp(spark, sf_dir, "documents").select("doc_id", "text")

    def roundtrip(batches):
        for b in batches:
            resp = [
                (
                    f"https://warc.example.org/d/{int(i)}",
                    datetime.fromtimestamp(base + int(i), tz=timezone.utc),
                    t.encode("utf-8"),
                )
                for i, t in zip(b["doc_id"], b["text"])
            ]
            rev = []
            for i, t in zip(b["doc_id"], b["text"]):
                i = int(i)
                ts = datetime.fromtimestamp(base + i + 100000, tz=timezone.utc)
                if i % 4 == 0:
                    rev.append(
                        (
                            f"https://warc.example.org/r/{i}",
                            ts,
                            "md5:" + hashlib.md5(t.encode("utf-8")).hexdigest(),
                        )
                    )
                elif i % 10 == 7:
                    rev.append(
                        (f"https://warc.example.org/r/{i}", ts, "md5:" + "0" * 32)
                    )
            data = build_warc(resp) + build_warc_revisits(rev)
            rows = list(records_index(data))
            yield pd.DataFrame(
                {
                    "url": [r["url"] for r in rows],
                    "epoch": [int(r["warc_ts"].timestamp()) for r in rows],
                    "warc_type": [r["warc_type"] for r in rows],
                    "digest": [r["digest"] for r in rows],
                }
            )

    recs = docs.mapInPandas(
        roundtrip,
        schema="url string, epoch long, warc_type string, digest string",
    )
    return revisit_resolution(recs)


@query("""
        SELECT 'https://wet.example.org/d/' || doc_id AS url,
               text,
               CAST(epoch(TIMESTAMP '2026-05-06 07:08:09') AS BIGINT) AS warc_epoch
        FROM documents
    """)
def q_wet_scan(spark, sf_dir):
    """WET (Common Crawl extracted-text) round-trip: conversion records
    with plain-text payloads, same one-crossing shape as warc_scan; the
    oracle re-predicts the parser output from the documents table."""
    import pandas as pd
    from datetime import datetime, timezone

    from .sources.warc import build_wet, records_to_pages

    ts = datetime(2026, 5, 6, 7, 8, 9, tzinfo=timezone.utc)
    docs = tp(spark, sf_dir, "documents").select("doc_id", "text")

    def roundtrip(batches):
        for b in batches:
            recs = [
                (f"https://wet.example.org/d/{i}", ts, t)
                for i, t in zip(b["doc_id"], b["text"])
            ]
            pages = list(records_to_pages(build_wet(recs)))
            yield pd.DataFrame(
                {
                    "url": [p["url"] for p in pages],
                    "text": [p["text"] for p in pages],
                    "warc_epoch": [int(p["warc_ts"].timestamp()) for p in pages],
                }
            )

    return docs.mapInPandas(
        roundtrip, schema="url string, text string, warc_epoch long"
    )


@query("""
        SELECT 'https://site.example.org/p/' || doc_id || '?a=1&b=2' AS url,
               CAST(epoch(TIMESTAMP '2026-01-01') AS BIGINT)
                 + (doc_id % 28) * 86400 AS lastmod_epoch,
               (['always','hourly','daily','weekly','monthly','yearly','never'])
                 [doc_id % 7 + 1] AS changefreq,
               CAST(doc_id % 10 AS DOUBLE) / 10.0 AS priority
        FROM documents
    """)
def q_sitemap_scan(spark, sf_dir):
    """Sitemap source connector (sources/sitemap.py) round-trip: each
    partition of the documents table is encoded as a sitemaps.org
    <urlset> (pinned-mtime gzip, W3C lastmod, changefreq, priority) and
    parsed back through the stdlib connector parser — one Arrow-batched
    mapInPandas, no shuffle, no filesystem.  The oracle re-predicts
    every typed field straight from doc_id, so an escaping, namespace,
    date-format, or float-parse slip breaks parity."""
    import pandas as pd
    from datetime import datetime, timedelta, timezone

    from .sources.sitemap import _CHANGEFREQS, build_sitemap, parse_sitemap

    base = datetime(2026, 1, 1, tzinfo=timezone.utc)
    docs = tp(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(batches):
        for b in batches:
            entries = [
                {
                    "loc": f"https://site.example.org/p/{i}?a=1&b=2",
                    "lastmod": base + timedelta(days=int(i) % 28),
                    "changefreq": _CHANGEFREQS[int(i) % 7],
                    "priority": (int(i) % 10) / 10.0,
                }
                for i in b["doc_id"]
            ]
            parsed = parse_sitemap(build_sitemap(entries, gz=True))
            yield pd.DataFrame(
                {
                    "url": [e["loc"] for e in parsed],
                    "lastmod_epoch": [int(e["lastmod"].timestamp()) for e in parsed],
                    "changefreq": [e["changefreq"] for e in parsed],
                    "priority": [e["priority"] for e in parsed],
                }
            )

    return docs.mapInPandas(
        roundtrip,
        schema="url string, lastmod_epoch long, changefreq string, priority double",
    )


@query("""
        WITH h AS (
          SELECT DISTINCT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org'
            AS host FROM documents
        )
        SELECT host, CAST(j.sitemap_idx AS INTEGER) AS sitemap_idx,
               CASE j.sitemap_idx
                 WHEN 0 THEN 'https://' || host || '/sitemap.xml'
                 ELSE 'https://' || host || '/sitemap-news.xml.gz'
               END AS sitemap_url
        FROM h, (SELECT UNNEST(range(0, 2)) AS sitemap_idx) j
    """)
def q_sitemap_discovery(spark, sf_dir):
    """robots.txt ``Sitemap:`` discovery (sources/sitemap.py), pure
    native path: per-host robots bodies are synthesized with ordinary
    exprs, the directive scan is regexp_extract_all + posexplode — zero
    Python anywhere in the plan."""
    from .sources.sitemap import sitemap_urls_from_robots

    docs = tp(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.org"))
    h = F.col("h")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /tmp\nSitemap: https://"),
        h,
        F.lit("/sitemap.xml\n# Sitemap: https://"),
        h,
        F.lit("/commented.xml\nsitemap:https://"),
        h,
        F.lit("/sitemap-news.xml.gz\n"),
    )
    robots = (
        docs.select(host.alias("h"))
        .distinct()
        .select(
            F.concat(F.lit("https://"), h, F.lit("/robots.txt")).alias("url"),
            body.alias("text"),
        )
    )
    return sitemap_urls_from_robots(robots)


def _cdx_lines(spark, sf_dir):
    """Deterministic CDXJ shard derived from documents: urlkey SP
    timestamp SP {json}, with status/mime/digest cycling so the triage
    paths all populate."""
    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://example.org/d/"), d.cast("string"))
    js = F.to_json(
        F.struct(
            url.alias("url"),
            F.when(d % 5 == 0, F.lit("404")).otherwise(F.lit("200")).alias("status"),
            F.when(d % 3 == 0, F.lit("image/png"))
            .otherwise(F.lit("text/html; charset=utf-8"))
            .alias("mime"),
            F.concat(F.lit("D"), (d % 50).cast("string")).alias("digest"),
            (d * 100).cast("string").alias("length"),
        )
    )
    line = F.concat(
        F.lit("org,example)/d/"), d.cast("string"),
        F.lit(" 2026010"), (d % 9 + 1).cast("string"), F.lit("000000 "),
        js,
    )
    return docs.select(line.alias("value"))


@query("""
        SELECT 'org,example)/d/' || doc_id AS urlkey,
               CAST(epoch(make_timestamp(2026, 1, CAST(doc_id % 9 + 1 AS INTEGER),
                                         0, 0, 0)) AS BIGINT) AS ts_epoch,
               'https://example.org/d/' || doc_id AS url,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS INTEGER)
                 AS status,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                 ELSE 'text/html; charset=utf-8' END AS mime,
               'D' || (doc_id % 50) AS digest,
               doc_id * 100 AS length,
               CAST(1 AS INTEGER) AS valid
        FROM documents
    """)
def q_cdx_scan(spark, sf_dir):
    """CDX(J) index connector (sources/cdx.py): one capture line per
    doc, parsed with pure native expressions (split + from_json +
    try_casts); every typed field re-predicted by the oracle."""
    from .sources.cdx import parse_cdx_lines

    caps = parse_cdx_lines(_cdx_lines(spark, sf_dir))
    return caps.select(
        "urlkey",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "url", "status", "mime", "digest", "length", "valid",
    )


@query("""
        WITH latest AS (
          SELECT 'https://example.org/d/' || doc_id AS url,
                 CASE WHEN doc_id % 4 = 0 THEN 410
                      WHEN doc_id % 4 = 1 THEN 200
                      WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS status,
                 CASE WHEN doc_id % 4 IN (0, 1)
                        THEN 'text/html; charset=utf-8'
                      WHEN doc_id % 3 = 0 THEN 'image/png'
                      ELSE 'text/html; charset=utf-8' END AS mime,
                 CASE WHEN doc_id % 4 = 1 THEN 'E' || (doc_id % 97)
                      ELSE 'D' || (doc_id % 50) END AS digest
          FROM documents
        ),
        ok AS (
          SELECT url, digest FROM latest
          WHERE status = 200 AND mime LIKE 'text/html%'
        )
        SELECT MIN(url) AS url, CAST(0.0 AS DOUBLE) AS priority
        FROM ok GROUP BY digest
    """)
def q_cdx_seeds(spark, sf_dir):
    """CDX triage → frontier discovery feed: the LATEST capture per url
    wins over ALL captures (so a page whose most recent capture is a
    410 is not resurrected from a stale older 200), then 200s +
    text/html only, mirrors collapsed by content digest onto MIN(url)
    — URL discovery without a single fetch.  The synthetic shard adds
    later captures for doc_id%4∈{0,1}: a 410 tombstone (url must drop
    even though an older 200 exists) and a re-crawl with a NEW digest
    (the latest digest must win the mirror grouping)."""
    from .sources.cdx import cdx_seed_candidates, parse_cdx_lines

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://example.org/d/"), d.cast("string"))
    gone = docs.filter(d % 4 == 0).select(
        F.concat(
            F.lit("org,example)/d/"), d.cast("string"),
            F.lit(" 20260115000000 "),
            F.to_json(
                F.struct(
                    url.alias("url"),
                    F.lit("410").alias("status"),
                    F.lit("text/html; charset=utf-8").alias("mime"),
                    F.concat(F.lit("D"), (d % 50).cast("string")).alias("digest"),
                )
            ),
        ).alias("value")
    )
    recrawled = docs.filter(d % 4 == 1).select(
        F.concat(
            F.lit("org,example)/d/"), d.cast("string"),
            F.lit(" 20260116000000 "),
            F.to_json(
                F.struct(
                    url.alias("url"),
                    F.lit("200").alias("status"),
                    F.lit("text/html; charset=utf-8").alias("mime"),
                    F.concat(F.lit("E"), (d % 97).cast("string")).alias("digest"),
                )
            ),
        ).alias("value")
    )
    lines = _cdx_lines(spark, sf_dir).union(gone).union(recrawled)
    return cdx_seed_candidates(parse_cdx_lines(lines))


@query("""
        WITH e AS (
          SELECT 'https://s.example.org/p/' || doc_id AS url,
                 CAST(doc_id % 10 AS DOUBLE) / 10.0 AS priority,
                 CASE WHEN doc_id % 5 <> 4 THEN 1000000 + doc_id % 100 END
                   AS lastmod_epoch,
                 doc_id
          FROM documents
        )
        SELECT url, priority,
               CASE WHEN doc_id % 3 = 0 THEN 'new' ELSE 'modified' END AS reason
        FROM e
        WHERE doc_id % 3 = 0
           OR (lastmod_epoch IS NOT NULL AND lastmod_epoch > 1000050)
    """)
def q_sitemap_refresh(spark, sf_dir):
    """Incremental sitemap recrawl (sources/sitemap.py sitemap_refresh):
    advertised URLs join the fetch history; kept when new or when
    lastmod proves the page changed since the last fetch.  Covers all
    regimes: new URL, modified, unmodified, and lastmod-less entries
    (kept only when new)."""
    from .sources.sitemap import sitemap_refresh

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    loc = F.concat(F.lit("https://s.example.org/p/"), d.cast("string"))
    entries = docs.select(
        F.lit("url").alias("kind"),
        loc.alias("loc"),
        F.when(d % 5 != 4, F.lit(1000000) + d % 100).cast("long").alias(
            "lastmod_epoch"
        ),
        ((d % 10).cast("double") / 10.0).alias("priority"),
    )
    history = docs.filter(d % 3 != 0).select(
        loc.alias("url_canon"),
        (F.lit(1000000) + F.lit(50)).cast("long").alias("last_fetch_epoch"),
    )
    return sitemap_refresh(entries, history)


@query("""
        SELECT 'https://api.example.org/ev/' || event_id AS url,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    """)
def q_rule_json(spark, sf_dir):
    """loader(json) → jmespath chain over the events props column."""
    return _rule_query(
        spark,
        sf_dir,
        "events",
        "ev",
        F.col("props"),
        [
            {
                "name": "k",
                "chain_rules": [["loader", "json", ""], ["json", "k", ""]],
                "child_rules": [],
            }
        ],
        rule="api",
        out_cols=[F.get_json_object("result", "$.api.k").cast("long").alias("k")],
    )


@query("""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               CAST(length(text) AS BIGINT) AS n_chars_udf
        FROM documents
    """)
def q_rule_udf(spark, sf_dir):
    """The sandboxed udf operator (exec-mode lambda) through Spark."""
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        F.col("text"),
        [{"name": "n", "chain_rules": [["udf", "parse = lambda input_object: len(input_object)", ""]], "child_rules": []}],
        out_cols=[F.get_json_object("result", "$.r.n").cast("long").alias("n_chars_udf")],
    )


_DEVOWEL_SQL = """
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled
        FROM documents
    """


@query(_DEVOWEL_SQL)
def q_rule_regex_sub(spark, sf_dir):
    """re parser @replacement mode (sub)."""
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        F.col("text"),
        [{"name": "devoweled", "chain_rules": [["re", "[aeiou]", "@_"]], "child_rules": []}],
    )


@query("""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               array_to_string(list_sort(string_split(text, ' '), 'DESC')[1:5], '|') AS top5
        FROM documents
    """)
def q_rule_python_ops(spark, sf_dir):
    """python parser sub-ops: split → sort desc → slice → join."""
    chain = [
        ["python", "split", " "],
        ["python", "sort", "desc"],
        ["python", "getitem", "[:5]"],
        ["python", "join", "|"],
    ]
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        F.col("text"),
        [{"name": "top5", "chain_rules": chain, "child_rules": []}],
    )


@query("""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               to_base64(encode(text)) AS b64
        FROM documents
    """)
def q_rule_b64(spark, sf_dir):
    """python base64_encode sub-op."""
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        F.col("text"),
        [{"name": "b64", "chain_rules": [["python", "base64_encode", ""]], "child_rules": []}],
    )


@query("""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               'doc ' || doc_id AS name
        FROM documents
    """)
def q_rule_xml(spark, sf_dir):
    """xml parser ($text op) over synthesized feeds."""
    xml = F.concat(
        F.lit('<root><item id="'),
        F.col("doc_id").cast("string"),
        F.lit('"><name>doc '),
        F.col("doc_id").cast("string"),
        F.lit("</name></item></root>"),
    )
    chain = [["xml", "name", "$text"], ["python", "getitem", "[0]"]]
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        xml,
        [{"name": "n", "chain_rules": chain, "child_rules": []}],
        out_cols=[F.get_json_object("result", "$.r.n").alias("name")],
    )


@query("""
        SELECT 'https://api.example.org/ev/' || event_id AS url,
               CAST(epoch(date_trunc('second', ts)) AS DOUBLE) AS epoch
        FROM events
    """)
def q_rule_time(spark, sf_dir):
    """time parser encode (timestr → epoch, engine tz pinned UTC)."""
    return _rule_query(
        spark,
        sf_dir,
        "events",
        "ev",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss"),
        [{"name": "epoch", "chain_rules": [["time", "encode", ""]], "child_rules": []}],
        rule="t",
        out_cols=[F.get_json_object("result", "$.t.epoch").cast("double").alias("epoch")],
    )


@query("""
        SELECT 'https://api.example.org/ev/' || event_id AS url,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_jsonpath,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_objectpath,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_recursive,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_union,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_idx_union,
               CAST(json_extract_string(props, '$.k') AS BIGINT) + 10 AS k_filter_and,
               CAST(json_extract_string(props, '$.k') AS BIGINT) + 20 AS k_filter_in,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_filter_or,
               CAST(json_extract_string(props, '$.k') AS BIGINT) + 20 AS k_filter_re,
               CAST(json_extract_string(props, '$.k') AS BIGINT) + 10 AS k_filter_math
        FROM events
    """)
def q_rule_paths(spark, sf_dir):
    """jsonpath and objectpath engines over nested JSON built from the
    props column: dotted paths, recursive descent ``$..k``, quoted field
    unions ``['k','zz']``, index unions ``[1,0]``, and FILTER chains —
    boolean connectives ``[?(@.id > 1 & @.id < 3)]``, list membership
    ``[?(@.id in [1, 3])]``, existence-or ``[?(@.flag | @.id == 3)]``
    (the grammar the reference gets from jsonpath-rw-ext, paths.py from
    scratch)."""
    k = F.get_json_object("props", "$.k").cast("long")
    nested = F.concat(
        F.lit('{"a": {"b": '),
        F.col("props"),
        F.lit('}, "l": ['),
        (k + 1).cast("string"),
        F.lit(", "),
        k.cast("string"),
        F.lit('], "items": [{"id": 1, "tag": "row-1", "p": '),
        k.cast("string"),
        F.lit(', "flag": true}, {"id": 2, "tag": "mid-2", "p": '),
        (k + 10).cast("string"),
        F.lit('}, {"id": 3, "tag": "row-3", "p": '),
        (k + 20).cast("string"),
        F.lit("}]}"),
    )
    rules = [
        {
            "name": "k_jsonpath",
            "chain_rules": [["loader", "json", ""], ["jsonpath", "$.a.b.k", ""], ["python", "getitem", "[0]"]],
            "child_rules": [],
        },
        {
            "name": "k_objectpath",
            "chain_rules": [["loader", "json", ""], ["objectpath", "$.a.b.k", ""]],
            "child_rules": [],
        },
        {
            "name": "k_recursive",
            "chain_rules": [["loader", "json", ""], ["jsonpath", "$..k", ""], ["python", "getitem", "[0]"]],
            "child_rules": [],
        },
        {
            "name": "k_union",
            "chain_rules": [["loader", "json", ""], ["jsonpath", "$.a.b['k','zz']", ""], ["python", "getitem", "[0]"]],
            "child_rules": [],
        },
        {
            "name": "k_idx_union",
            "chain_rules": [["loader", "json", ""], ["jsonpath", "$.l[1,0]", ""], ["python", "getitem", "[0]"]],
            "child_rules": [],
        },
        {
            "name": "k_filter_and",  # boolean AND of two comparisons -> id 2
            "chain_rules": [["loader", "json", ""], ["jsonpath", "$.items[?(@.id > 1 & @.id < 3)].p", ""], ["python", "getitem", "[0]"]],
            "child_rules": [],
        },
        {
            "name": "k_filter_in",  # list membership -> ids 1,3; [1] -> id 3
            "chain_rules": [["loader", "json", ""], ["jsonpath", "$.items[?(@.id in [1, 3])].p", ""], ["python", "getitem", "[1]"]],
            "child_rules": [],
        },
        {
            "name": "k_filter_or",  # existence OR comparison -> ids 1,3; [0] -> id 1
            "chain_rules": [["loader", "json", ""], ["objectpath", "$.items[@.flag | @.id == 3]", ""], ["python", "getitem", "[0]"], ["jsonpath", "p", ""], ["python", "getitem", "[0]"]],
            "child_rules": [],
        },
        {
            "name": "k_filter_re",  # regex match =~ -> tags row-1, row-3; [1] -> id 3
            "chain_rules": [["loader", "json", ""], ["jsonpath", '$.items[?(@.tag =~ "^row-")].p', ""], ["python", "getitem", "[1]"]],
            "child_rules": [],
        },
        {
            "name": "k_filter_math",  # arithmetic operands -> id*2-1==3 -> id 2
            "chain_rules": [["loader", "json", ""], ["jsonpath", "$.items[?(@.id * 2 - 1 == 3)].p", ""], ["python", "getitem", "[0]"]],
            "child_rules": [],
        },
    ]
    return _rule_query(
        spark,
        sf_dir,
        "events",
        "ev",
        nested,
        rules,
        rule="p",
        out_cols=[
            F.get_json_object("result", f"$.p.{r['name']}").cast("long").alias(r["name"])
            for r in rules
        ],
    )


@query("""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               array_to_string(regexp_extract_all(text, '[a-z]+')[1:3], ' ') AS first3,
               array_to_string(list_sort(string_split(text, ' '), 'DESC')[1:5], '|') AS top5,
               'w=' || regexp_extract(text, '[a-z]+') || ' ($unknown)' AS templ,
               to_base64(encode(text)) AS b64,
               text AS b16rt
        FROM documents
    """)
def q_rule_native(spark, sf_dir):
    """The SAME chains as rule_first3/rule_python_ops, but compiled to
    pure Catalyst expressions by engine.native — zero Python in the
    plan (fallback=False asserts it), demonstrating the whole-stage-
    codegen path for native-expressible rules."""
    from .engine.native import extract_columns

    docs = tp(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://docs.example.org/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.col("text"),
    )
    rules = [
        {"name": "first3", "chain_rules": [["re", "[a-z]+", ""], ["python", "getitem", "[:3]"], ["python", "join", " "]]},
        {"name": "top5", "chain_rules": [["python", "split", " "], ["python", "sort", "desc"], ["python", "getitem", "[:5]"], ["python", "join", "|"]]},
        {"name": "templ", "chain_rules": [["re", "[a-z]+", ""], ["python", "getitem", "[0]"], ["python", "template", "w=$obj ($unknown)"]]},
        {"name": "b64", "chain_rules": [["loader", "b64encode", ""]]},
        {"name": "b16rt", "chain_rules": [["loader", "b16encode", ""], ["loader", "b16decode", ""]]},
    ]
    return extract_columns(pages, rules, fallback=False)


@query(r"""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               array_to_string(regexp_extract_all(text, '([a-z]+) ', 1), ',') AS g1,
               array_to_string(string_split_regex(text, '\s+'), '|') AS parts,
               regexp_extract(text, '[a-z]{5,}') AS first5
        FROM documents
    """)
def q_rule_re_modes(spark, sf_dir):
    """The remaining re parser modes (reference parsers.py:456-471):
    $N → finditer group N, '-' → split, '#N' → search().group(N) with ''
    on miss."""
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        F.col("text"),
        [
            {"name": "g1", "chain_rules": [["re", "([a-z]+) ", "$1"], ["python", "join", ","]], "child_rules": []},
            {"name": "parts", "chain_rules": [["re", r"\s+", "-"], ["python", "join", "|"]], "child_rules": []},
            {"name": "first5", "chain_rules": [["re", "[a-z]{5,}", "#0"]], "child_rules": []},
        ],
    )


_RULE_LOADER_SQL = """
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               CAST(doc_id AS BIGINT) AS k,
               'doc-' || doc_id AS nm
        FROM documents
    """


def _rule_loader_query(spark, sf_dir, loader, text_expr):
    """The rule_loader_* body: loader(<loader>) → python getitem of the
    keys k and name."""
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        text_expr,
        [
            {"name": "k", "chain_rules": [["loader", loader, ""], ["python", "getitem", "k"]], "child_rules": []},
            {"name": "nm", "chain_rules": [["loader", loader, ""], ["python", "getitem", "name"]], "child_rules": []},
        ],
        out_cols=[
            F.get_json_object("result", "$.r.k").cast("long").alias("k"),
            F.get_json_object("result", "$.r.nm").alias("nm"),
        ],
    )


@query(_RULE_LOADER_SQL)
def q_rule_loader_yaml(spark, sf_dir):
    """loader(yaml) → python getitem chain (reference parsers.py:857-871)
    over synthesized YAML docs, so DuckDB predicts the parsed values."""
    d = F.col("doc_id").cast("string")
    yaml_text = F.concat(F.lit("k: "), d, F.lit("\nname: doc-"), d)
    return _rule_loader_query(spark, sf_dir, "yaml", yaml_text)


@query(_RULE_LOADER_SQL)
def q_rule_loader_toml(spark, sf_dir):
    """loader(toml) over synthesized TOML docs (parsers.py:873-887)."""
    d = F.col("doc_id").cast("string")
    toml_text = F.concat(F.lit("k = "), d, F.lit('\nname = "doc-'), d, F.lit('"'))
    return _rule_loader_query(spark, sf_dir, "toml", toml_text)


@query("""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               'pre:' || text AS tmpl,
               text AS strip2,
               replace(text, ' ', '') AS nospace,
               string_split(text, ' ')[-1] AS last,
               CASE WHEN regexp_extract(text, '[a-z]{12,}') = ''
                    THEN 'none' ELSE regexp_extract(text, '[a-z]{12,}') END AS dflt,
               'K' AS konst
        FROM documents
    """)
def q_rule_python_modes(spark, sf_dir):
    """The python parser sub-ops not covered by rule_python_ops
    (reference parsers.py:739-829): template, strip, default, chain,
    index, const."""
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        F.col("text"),
        [
            {"name": "tmpl", "chain_rules": [["python", "template", "pre:${obj}"]], "child_rules": []},
            {"name": "strip2", "chain_rules": [["python", "template", "##${obj}##"], ["python", "strip", "#"]], "child_rules": []},
            {"name": "nospace", "chain_rules": [["python", "split", " "], ["python", "chain", ""], ["python", "join", ""]], "child_rules": []},
            {"name": "last", "chain_rules": [["python", "split", " "], ["python", "index", "-1"]], "child_rules": []},
            {"name": "dflt", "chain_rules": [["re", "[a-z]{12,}", "#0"], ["python", "default", "none"]], "child_rules": []},
            {"name": "konst", "chain_rules": [["python", "const", "K"]], "child_rules": []},
        ],
    )


@query("""
        SELECT 'https://docs.example.org/d/' || doc_id AS url,
               'https://docs.example.org/d/' || doc_id AS ctx_url,
               'fallback' AS ctx_fallback
        FROM documents
    """)
def q_rule_context(spark, sf_dir):
    """The context parser (reference parsers.py:958-977): swaps the
    chain input for the live context dict — extract the per-page url
    seeded by the engine, and the default-on-miss branch."""
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "d",
        F.col("text"),
        [
            {"name": "ctx_url", "chain_rules": [["context", "url", ""]], "child_rules": []},
            {"name": "ctx_fallback", "chain_rules": [["context", "no_such_key", "fallback"]], "child_rules": []},
        ],
    )


@query("""
        SELECT 'https://docs.example.org/c/' || doc_id AS url,
               'true' AS schema_ok,
               '/d/' || (doc_id*3) || '/' AS item0_href,
               '/d/' || (doc_id*3+1) || '/' AS item1_href,
               'three' AS item2_txt,
               'html' AS head
        FROM documents
    """)
def q_rule_children(spark, sf_dir):
    """Composed rule exercising iter_parse_child (per-element child
    rules, parsers.py:1352-1361), __object__ input rebinding and the
    __schema__ assert (parsers.py:1335-1349) in one crawler rule."""
    html = F.concat(
        F.lit("<html><body><ul>"),
        F.lit('<li><a class="lnk" href="/d/'), (F.col("doc_id") * 3).cast("string"),
        F.lit('/">one</a></li>'),
        F.lit('<li><a class="lnk" href="/d/'), (F.col("doc_id") * 3 + 1).cast("string"),
        F.lit('/">two</a></li>'),
        F.lit('<li><a class="lnk" href="/d/'), (F.col("doc_id") * 3 + 2).cast("string"),
        F.lit('/">three</a></li>'),
        F.lit("</ul></body></html>"),
    )
    return _rule_query(
        spark,
        sf_dir,
        "documents",
        "c",
        html,
        [
            {
                "name": "__schema__",
                "chain_rules": [["udf", "parse = lambda input_object: isinstance(input_object, str)", "{}"]],
                "child_rules": [],
            },
            {
                "name": "items",
                "chain_rules": [["css", "ul > li", "$self"]],
                "child_rules": [
                    {"name": "href", "chain_rules": [["css1", "a", "@href"]], "child_rules": []},
                    {"name": "txt", "chain_rules": [["css1", "a", "$text"]], "child_rules": []},
                ],
                "iter_parse_child": True,
            },
            {
                "name": "__object__",
                "chain_rules": [["re", "[a-z]+", ""], ["python", "join", " "]],
                "child_rules": [],
            },
            {
                "name": "head",
                "chain_rules": [["python", "split", " "], ["python", "getitem", "[0]"]],
                "child_rules": [],
            },
        ],
        rule="page",
        out_cols=[
            F.get_json_object("result", "$.page.__schema__").alias("schema_ok"),
            F.get_json_object("result", "$.page.items[0].href").alias("item0_href"),
            F.get_json_object("result", "$.page.items[1].href").alias("item1_href"),
            F.get_json_object("result", "$.page.items[2].txt").alias("item2_txt"),
            F.get_json_object("result", "$.page.head").alias("head"),
        ],
    )


# ------------------------------------------------------------ text analysis
@query(rf"""
        SELECT doc_id,
          len({_TOKS}) AS n_tokens,
          len(list_distinct({_TOKS})) AS n_distinct_tokens,
          len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe_tokens,
          ROUND(CAST(list_sum(list_transform({_TOKS}, t -> len(t))) AS DOUBLE)
                / len({_TOKS}), 4) AS avg_token_len
        FROM documents
    """)
def q_token_stats(spark, sf_dir):
    return token_stats(tp(spark, sf_dir, "documents"))


@query(rf"""
        WITH base AS (
          SELECT doc_id,
            CAST(length(text) AS DOUBLE) AS n_chars,
            CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
            CAST(len(list_filter({_TOKS},
              t -> t IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE) AS sw,
            CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) AS punct,
            CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
          FROM documents
        )
        SELECT doc_id,
          CAST(n_chars AS BIGINT) AS n_chars,
          CAST(n_tok AS BIGINT) AS n_tokens,
          ROUND(sw / n_tok, 4) AS stopword_ratio,
          ROUND(punct / n_chars, 4) AS punct_ratio,
          ROUND(n_distinct / n_tok, 4) AS distinct_ratio,
          floor((0.4 * least(1.0, n_chars / 500.0)
              + 0.3 * (n_distinct / n_tok)
              + 0.2 * (1.0 - punct / n_chars)
              + 0.1 * least(1.0, (sw / n_tok) * 5.0)) * 10000.0 + 0.5)
            / 10000.0 AS quality
        FROM base
    """)
def q_quality_scores(spark, sf_dir):
    return quality_scores(tp(spark, sf_dir, "documents"))


# ------------------------------------------------------- corpus cleaning
# C4 / Gopher / RefinedWeb-style cleaning pass over synthesized pages
# (textops/clean.py — the oracle re-synthesizes the identical page).
@query(rf"""
        WITH {_PAGE_SQL},
        base AS (
          SELECT doc_id, string_split(page, chr(10)) AS ls,
            list_filter(string_split(page, chr(10)),
              l -> len(string_split(l, ' ')) >= 4 AND ends_with(l, '.')
                   AND NOT contains(l, 'login')
                   AND NOT contains(l, 'copyright')) AS kept
          FROM pages
        )
        SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept,
               coalesce(array_to_string(kept, chr(10)), '') AS clean_text
        FROM base
    """)
def q_c4_line_filter(spark, sf_dir):
    return c4_line_filter(with_page(tp(spark, sf_dir, "documents")))


@query(rf"""
        WITH {_PAGE_SQL},
        base AS (
          SELECT doc_id,
            list_filter(string_split(page, chr(10)), l -> length(l) > 0)
              AS lines,
            string_split(page, chr(10) || chr(10)) AS paras
          FROM pages
        )
        SELECT doc_id,
          CAST(len(lines) AS BIGINT) AS n_lines,
          ROUND(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                      / len(lines), 4) AS dup_line_frac,
          CAST(len(paras) AS BIGINT) AS n_paras,
          ROUND(1.0 - CAST(len(list_distinct(paras)) AS DOUBLE)
                      / len(paras), 4) AS dup_para_frac,
          list_max(list_transform(lines, l -> length(l))) AS max_line_len,
          ROUND(CAST(list_sum(list_transform(lines, l -> length(l)))
                     AS DOUBLE) / len(lines), 4) AS avg_line_len
        FROM base
    """)
def q_repetition_stats(spark, sf_dir):
    return repetition_stats(with_page(tp(spark, sf_dir, "documents")))


@query(rf"""
        WITH {_PAGE_SQL}
        SELECT doc_id,
          len(regexp_extract_all(page, '{_EMAIL_SQL}')) AS n_emails,
          len(regexp_extract_all(page, '{_IP_SQL}')) AS n_ips,
          len(regexp_extract_all(page, '{_PHONE_SQL}')) AS n_phones,
          regexp_replace(
            regexp_replace(
              regexp_replace(page, '{_EMAIL_SQL}', '<EMAIL>', 'g'),
              '{_IP_SQL}', '<IP>', 'g'),
            '{_PHONE_SQL}', '<PHONE>', 'g') AS redacted
        FROM pages
    """)
def q_pii_redact(spark, sf_dir):
    return pii_redact(with_page(tp(spark, sf_dir, "documents")))


@query(rf"""
        WITH {_PAGE_SQL},
        split_docs AS (
          SELECT doc_id, string_split(page, chr(10) || chr(10)) AS ps
          FROM pages
        ),
        paras AS (
          SELECT doc_id, unnest(ps) AS para,
                 unnest(range(1, len(ps) + 1)) AS i
          FROM split_docs
        ),
        keeps AS (
          SELECT doc_id, i FROM (
            SELECT doc_id, i,
              row_number() OVER (PARTITION BY substr(md5(para), 1, 16)
                                 ORDER BY doc_id, i) AS rn
            FROM paras)
          WHERE rn = 1
        ),
        kept AS (
          SELECT doc_id, list(i ORDER BY i) AS keep_idx
          FROM keeps GROUP BY doc_id
        )
        SELECT b.doc_id,
          len(b.ps) AS n_paras,
          len(k.keep_idx) AS n_kept,
          array_to_string(list_transform(k.keep_idx, i -> b.ps[i]),
                          chr(10) || chr(10)) AS clean_text
        FROM split_docs b JOIN kept k USING (doc_id)
    """)
def q_para_dedup(spark, sf_dir):
    return para_dedup(with_page(tp(spark, sf_dir, "documents")))


@query(r"""
        WITH c AS (
          SELECT token, count(*) AS n_occurrences,
                 count(DISTINCT doc_id) AS n_docs
          FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS token
            FROM documents)
          GROUP BY token
        )
        SELECT token, n_occurrences, n_docs
        FROM c ORDER BY n_occurrences DESC, token LIMIT 50
    """)
def q_top_tokens(spark, sf_dir):
    return top_tokens(tp(spark, sf_dir, "documents"))


@query(r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents
        ),
        grams AS (
          SELECT doc_id, 2 AS n,
            unnest(list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i+1])) AS g
          FROM toks
          UNION ALL
          SELECT doc_id, 3 AS n,
            unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
          FROM toks
        ),
        maxes AS (
          SELECT doc_id, n, max(c) AS mc FROM (
            SELECT doc_id, n, g, count(*) AS c
            FROM grams GROUP BY doc_id, n, g)
          GROUP BY doc_id, n
        ),
        piv AS (
          SELECT doc_id,
            max(CASE WHEN n = 2 THEN mc END) AS top_2gram_cnt,
            max(CASE WHEN n = 3 THEN mc END) AS top_3gram_cnt
          FROM maxes GROUP BY doc_id
        )
        SELECT t.doc_id, len(t.t) AS n_tokens,
          p.top_2gram_cnt, p.top_3gram_cnt,
          ROUND(CAST(p.top_2gram_cnt * 2 AS DOUBLE) / len(t.t), 4)
            AS top_2gram_frac,
          ROUND(CAST(p.top_3gram_cnt * 3 AS DOUBLE) / len(t.t), 4)
            AS top_3gram_frac
        FROM toks t LEFT JOIN piv p USING (doc_id)
    """)
def q_ngram_repetition(spark, sf_dir):
    return ngram_repetition(tp(spark, sf_dir, "documents"))


@query(rf"""
        WITH {_PAGE_SQL},
        stats AS (
          SELECT doc_id,
            len(string_split_regex(trim(page), '\s+')) AS n_tokens,
            ROUND(CAST(list_sum(list_transform(
                    string_split_regex(trim(page), '\s+'),
                    t -> length(t))) AS DOUBLE)
                  / len(string_split_regex(trim(page), '\s+')), 4)
              AS mean_word_len,
            ROUND(1.0 - CAST(len(list_distinct(list_filter(
                    string_split(page, chr(10)), l -> length(l) > 0)))
                    AS DOUBLE)
                  / len(list_filter(string_split(page, chr(10)),
                                    l -> length(l) > 0)), 4)
              AS dup_line_frac,
            (contains(page, 'lorem ipsum') OR contains(page, '{{'))
              AS boiler
          FROM pages
        ),
        verdict AS (
          SELECT doc_id, n_tokens, mean_word_len, dup_line_frac,
            CASE WHEN n_tokens < 60 THEN 'too_short'
                 WHEN mean_word_len < 3.0 OR mean_word_len > 10.0
                   THEN 'word_length'
                 WHEN boiler THEN 'boilerplate'
                 WHEN dup_line_frac > 0.10 THEN 'repetition'
            END AS reason
          FROM stats
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               mean_word_len, dup_line_frac,
               reason IS NULL AS admit, reason
        FROM verdict
    """)
def q_doc_filter(spark, sf_dir):
    from .textops.clean import doc_filter

    return doc_filter(with_page(tp(spark, sf_dir, "documents")))


# unicode synthesis: even ids precomposed U+00E1, odd ids the
# decomposed pair a+U+0301 — NFC maps both to the same string
@query(r"""
        WITH synth AS (
          SELECT doc_id,
            CASE WHEN doc_id % 2 = 0
                 THEN replace(text, 'a', chr(225))
                 ELSE replace(text, 'a', 'a' || chr(769)) END AS t
          FROM documents
        )
        SELECT doc_id,
          CAST(length(t) AS BIGINT) AS n_chars_raw,
          CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_nfc,
          t <> nfc_normalize(t) AS changed,
          nfc_normalize(t) AS nfc,
          strip_accents(nfc_normalize(t)) AS folded
        FROM synth
    """)
def q_text_normalize(spark, sf_dir):
    from .textops.clean import accent_synth_expr, text_normalize

    docs = tp(spark, sf_dir, "documents").select(
        "doc_id", accent_synth_expr().alias("text")
    )
    return text_normalize(docs)


# ---------------------------------------------------------- link graph
def _graph_inputs(spark, sf_dir):
    from .graph import synth_edges

    docs = t(spark, sf_dir, "documents")
    n = docs.count()
    edges = synth_edges(docs, n)
    nodes = docs.select(F.col("doc_id").alias("node"))
    return edges, nodes, n


@query(
    _GRAPH_SQL
    + r"""
        , outd AS (SELECT src AS node, count(*) AS out_deg
                   FROM edges GROUP BY src)
        , ind AS (SELECT dst AS node, count(*) AS in_deg
                  FROM edges GROUP BY dst)
        SELECT d.doc_id AS node,
               coalesce(o.out_deg, 0) AS out_deg,
               coalesce(i.in_deg, 0) AS in_deg
        FROM documents d
        LEFT JOIN outd o ON d.doc_id = o.node
        LEFT JOIN ind i ON d.doc_id = i.node
    """
)
def q_link_degrees(spark, sf_dir):
    from .graph import link_degrees

    edges, nodes, _ = _graph_inputs(spark, sf_dir)
    return link_degrees(edges, nodes)


@query(
    _GRAPH_SQL
    + r"""
        , nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        , deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
        , r0 AS (SELECT doc_id AS node, 1.0 / n AS rank FROM documents, nd)
        , c1 AS (SELECT e.dst AS node, sum(r.rank / d.outdeg) AS c
                 FROM edges e JOIN r0 r ON e.src = r.node
                              JOIN deg d ON e.src = d.src
                 GROUP BY e.dst)
        , r1 AS (SELECT d.doc_id AS node,
                   (1 - CAST(0.85 AS DOUBLE)) / n
                   + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS rank
                 FROM documents d LEFT JOIN c1 c ON d.doc_id = c.node, nd)
        , c2 AS (SELECT e.dst AS node, sum(r.rank / d.outdeg) AS c
                 FROM edges e JOIN r1 r ON e.src = r.node
                              JOIN deg d ON e.src = d.src
                 GROUP BY e.dst)
        , r2 AS (SELECT d.doc_id AS node,
                   (1 - CAST(0.85 AS DOUBLE)) / n
                   + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS rank
                 FROM documents d LEFT JOIN c2 c ON d.doc_id = c.node, nd)
        , c3 AS (SELECT e.dst AS node, sum(r.rank / d.outdeg) AS c
                 FROM edges e JOIN r2 r ON e.src = r.node
                              JOIN deg d ON e.src = d.src
                 GROUP BY e.dst)
        , r3 AS (SELECT d.doc_id AS node,
                   (1 - CAST(0.85 AS DOUBLE)) / n
                   + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS rank
                 FROM documents d LEFT JOIN c3 c ON d.doc_id = c.node, nd)
        SELECT node, ROUND(rank, 6) AS rank FROM r3
    """
)
def q_pagerank3(spark, sf_dir):
    from .graph import pagerank

    edges, nodes, n = _graph_inputs(spark, sf_dir)
    return pagerank(edges, nodes, n)


# URL classification: fixture classes are fixed per doc_id%8, so the
# oracle enumerates verdict/priority/depth/query analytically (the
# regex logic itself is pytest-pinned per rule).
@query(r"""
    WITH exp(m, tail_type, path_depth, has_query, page_type, type_priority) AS (
      VALUES
        (0, 'a', 3, 0, 'article', 1),
        (1, 'b', 2, 0, 'product', 2),
        (2, 'c', 3, 0, 'pagination', 5),
        (3, 'd', 1, 1, 'search', 8),
        (4, 'e', 2, 0, 'asset', 9),
        (5, 'f', 1, 0, 'feed', 4),
        (6, 'g', 1, 0, 'section', 3),
        (7, 'h', 4, 0, 'other', 6)
    )
    SELECT
      'https://h' || CAST(d.doc_id % 7 AS VARCHAR) || '.example.org' ||
      CASE d.doc_id % 8
        WHEN 0 THEN '/2026/08/post-' || CAST(d.doc_id AS VARCHAR)
        WHEN 1 THEN '/product/sku-' || CAST(d.doc_id AS VARCHAR)
        WHEN 2 THEN '/blog/page/' || CAST(d.doc_id % 9 + 1 AS VARCHAR)
        WHEN 3 THEN '/find?q=term' || CAST(d.doc_id AS VARCHAR)
        WHEN 4 THEN '/static/img-' || CAST(d.doc_id AS VARCHAR) || '.png'
        WHEN 5 THEN '/feed'
        WHEN 6 THEN '/news/'
        ELSE '/a/b/c/d-' || CAST(d.doc_id AS VARCHAR)
      END AS url,
      CAST(e.path_depth AS INT) AS path_depth,
      CAST(e.has_query AS INT) AS has_query,
      e.page_type,
      CAST(e.type_priority AS INT) AS type_priority
    FROM documents d JOIN exp e ON (d.doc_id % 8) = e.m
""")
def q_url_classes(spark, sf_dir):
    """URL page-type classification (crawl/classify.py classify_urls):
    first-match-wins shape rules → scheduling priority bands.  Fixture
    synthesizes one URL per class (dated article, product, pagination,
    search query, asset, feed, section, unmatched deep path) so the
    oracle enumerates the verdicts analytically."""
    from .crawl.classify import classify_urls

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    base = F.concat(
        F.lit("https://h"), (d % 7).cast("string"), F.lit(".example.org")
    )
    m = d % 8
    tail = (
        F.when(m == 0, F.concat(F.lit("/2026/08/post-"), d.cast("string")))
        .when(m == 1, F.concat(F.lit("/product/sku-"), d.cast("string")))
        .when(m == 2, F.concat(F.lit("/blog/page/"), (d % 9 + 1).cast("string")))
        .when(m == 3, F.concat(F.lit("/find?q=term"), d.cast("string")))
        .when(m == 4, F.concat(F.lit("/static/img-"), d.cast("string"), F.lit(".png")))
        .when(m == 5, F.lit("/feed"))
        .when(m == 6, F.lit("/news/"))
        .otherwise(F.concat(F.lit("/a/b/c/d-"), d.cast("string")))
    )
    return classify_urls(docs.select(F.concat(base, tail).alias("url")))


# OPIC: same circulant edge synthesis as the pagerank family; integer
# micro-cash end-to-end (DIV share, remainder stays with the source),
# so the round is exactly reproducible with no doubles anywhere.
@query(
    _GRAPH_SQL
    + r""",
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    c AS (SELECT doc_id AS u, CAST(1000000 AS BIGINT) AS cash,
                 CAST(0 AS BIGINT) AS hist FROM documents),
    g AS (SELECT c.u, c.cash, c.hist,
            CASE WHEN coalesce(deg.d, 0) > 0 THEN c.cash // deg.d
                 ELSE 0 END AS share,
            coalesce(deg.d, 0) AS d
          FROM c LEFT JOIN deg ON deg.src = c.u),
    staged AS (SELECT u, hist, share,
                 cash - share * d AS residual, share * d AS given
               FROM g),
    recv AS (SELECT e.dst AS u, sum(s.share) AS r
             FROM edges e JOIN staged s ON s.u = e.src GROUP BY e.dst)
    SELECT coalesce(s.u, r.u) AS url,
      CAST(coalesce(s.residual, 0) + coalesce(r.r, 0) AS BIGINT) AS cash,
      CAST(coalesce(s.hist, 0) + coalesce(s.given, 0) AS BIGINT) AS history,
      CAST(coalesce(s.residual, 0) + coalesce(r.r, 0)
         + coalesce(s.hist, 0) + coalesce(s.given, 0) AS BIGINT) AS importance
    FROM staged s FULL OUTER JOIN recv r ON r.u = s.u
"""
)
def q_opic(spark, sf_dir):
    """One OPIC round (graph.py opic_round): integer micro-cash
    distribution over the circulant graph — the incremental importance
    estimate a frontier maintains per crawl round, vs pagerank3's
    converged batch signal.  Uniform 1e6 initial cash, empty history."""
    from .graph import opic_round

    edges, nodes, _ = _graph_inputs(spark, sf_dir)
    cash = nodes.select(
        F.col("node").alias("url"),
        F.lit(1000000).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("history"),
    )
    return opic_round(edges, cash)


# recrawl_priority: the rational staleness model re-derived in SQL;
# every operation is IEEE +,×,÷ (correctly rounded in both engines)
# so the doubles hash-match without rounding.
@query(r"""
        WITH h AS (
          SELECT
            'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/d/'
              || CAST(doc_id AS VARCHAR) AS url_canon,
            'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
            doc_id % 7 + 1 AS fetch_count,
            (doc_id * 3) % (doc_id % 7 + 2) AS change_count,
            doc_id % 13 AS last_fetch_round
          FROM documents
        ),
        s AS (
          SELECT *,
            (change_count + 0.5) / CAST(fetch_count + 1 AS DOUBLE) AS lam,
            ((change_count + 0.5) / CAST(fetch_count + 1 AS DOUBLE)
              * CAST(16 - last_fetch_round AS DOUBLE))
            / (1.0 + (change_count + 0.5) / CAST(fetch_count + 1 AS DOUBLE)
               * CAST(16 - last_fetch_round AS DOUBLE)) AS staleness
          FROM h
        )
        SELECT url_canon, host, fetch_count, change_count, lam, staleness,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY host ORDER BY staleness DESC, url_canon ASC
               ) AS INTEGER) AS recrawl_rank,
               CAST(CASE WHEN staleness >= 0.5 THEN 1 ELSE 0 END AS INTEGER)
                 AS due
        FROM s
    """)
def q_recrawl_priority(spark, sf_dir):
    """Change-rate-driven recrawl ranking (Cho & Garcia-Molina refresh
    policy) over a fetch history synthesized from doc_id; the rational
    staleness model keeps every double bit-identical to the SQL twin."""
    from .frontier.freshness import recrawl_priority

    docs = tp(spark, sf_dir, "documents")
    did = F.col("doc_id")
    fetch_count = (did % 7 + 1).cast("long")
    history = docs.select(
        F.concat(
            F.lit("https://h"), (did % 7).cast("string"),
            F.lit(".example.org/d/"), did.cast("string"),
        ).alias("url_canon"),
        F.concat(
            F.lit("h"), (did % 7).cast("string"), F.lit(".example.org")
        ).alias("host"),
        fetch_count.alias("fetch_count"),
        ((did * 3) % (fetch_count + 1)).cast("long").alias("change_count"),
        (did % 13).cast("long").alias("last_fetch_round"),
    )
    return recrawl_priority(history, now_round=16).select(
        "url_canon", "host", "fetch_count", "change_count",
        "lam", "staleness", "recrawl_rank", "due",
    )


# content_extract: the heuristic's contract (article wins; main_text
# = <p> texts joined by newline) re-derived straight from the doc
# text the page was synthesized from.
@query(r"""
        WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        m AS (
          SELECT doc_id,
                 coalesce(array_to_string(t[1:10], ' '), '') || chr(10) ||
                 coalesce(array_to_string(t[11:20], ' '), '') || chr(10) ||
                 'doc ' || CAST(doc_id AS VARCHAR) || ' closing remarks'
                   AS main_text
          FROM tk
        )
        SELECT doc_id, 'article' AS main_tag, main_text,
               CAST(3 AS INTEGER) AS n_paras,
               CAST(length(main_text) AS INTEGER) AS main_len
        FROM m
    """)
def q_content_extract(spark, sf_dir):
    """Readability-style main-content extraction: pages are synthesized
    with nav/sidebar/footer chrome around an <article> whose paragraphs
    derive from the doc text, so the oracle predicts the extracted text
    byte-for-byte (the north rule's per-row invariant) without knowing
    the heuristic — only its documented contract."""
    from .textops.content import extract_main_content

    docs = tp(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    p1 = F.array_join(F.slice(tk, 1, 10), " ")
    p2 = F.array_join(F.slice(tk, 11, 10), " ")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(
            '<html><body><nav><a href="/">home</a> <a href="/about">about</a> '
            '<a href="/login">login to member area</a></nav>'
            '<div class="side"><a href="/ad1">sponsored listing one</a>'
            '<a href="/ad2">sponsored listing two</a></div><article><p>'
        ),
        p1,
        F.lit("</p><p>"),
        p2,
        F.lit("</p><p>doc "),
        d,
        F.lit(
            " closing remarks</p></article><footer>copyright example com"
            " all rights reserved</footer></body></html>"
        ),
    )
    pages = docs.select("doc_id", html.alias("html"))
    return extract_main_content(pages)


@query(r"""
        WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
                 array_to_string(t[1:3], ' ') AS title,
               CASE WHEN doc_id % 3 <> 0
                    THEN array_to_string(t[4:9], ' ') END AS description,
               CASE WHEN doc_id % 2 = 0
                    THEN 'OG Doc ' || CAST(doc_id AS VARCHAR) END AS og_title,
               CASE WHEN doc_id % 10 = 0
                    THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
                         '.example.com/p/' || CAST(doc_id AS VARCHAR) || '/'
                    END AS og_url,
               CASE WHEN doc_id % 4 = 0
                    THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
                         '.example.com/c/' || CAST(doc_id AS VARCHAR)
                    WHEN doc_id % 4 IN (1, 2)
                    THEN 'https://cdn.example.org/c/' || CAST(doc_id AS VARCHAR)
                    END AS canonical,
               CAST(CASE doc_id % 3 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END
                    AS INTEGER) AS n_hreflang,
               CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0
                    THEN 'Article,Organization,WebPage'
                    WHEN doc_id % 2 = 0 THEN 'Article'
                    WHEN doc_id % 5 = 0 THEN 'Organization,WebPage'
                    END AS jsonld_types,
               CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END
                    AS INTEGER) AS n_jsonld_bad,
               CASE WHEN doc_id % 6 <> 5
                    THEN '2026-01-' ||
                         lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
                    END AS published
        FROM tk
    """)
def q_page_metadata(spark, sf_dir):
    """Page-metadata harvest (textops/metadata.py harvest_metadata):
    <title> / meta description / OpenGraph / rel=canonical (resolved
    against the page URL) / hreflang count / JSON-LD @type set /
    article:published_time, all in ONE DOM parse per page.  Pages are
    synthesized with doc_id-keyed metadata — attribute order and
    quoting vary by parity, rel="canonical nofollow" exercises token
    matching, a second <title> pins first-wins, and a malformed ld+json
    script pins error-as-data — so the oracle predicts every field
    analytically.  (Reference parity: the fields a hand-written
    parsers.py CSS chain would target, e.g. test_parsers.py's title
    rules, harvested rule-free.)"""
    from .textops.metadata import harvest_metadata

    docs = tp(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    tk = F.split(F.col("text"), " ")
    title = F.concat(
        F.lit("Doc "), ds, F.lit(" "), F.array_join(F.slice(tk, 1, 3), " ")
    )
    desc = F.array_join(F.slice(tk, 4, 6), " ")
    base = F.concat(
        F.lit("https://h"), (d % 7).cast("string"),
        F.lit(".example.com/p/"), ds, F.lit("/"),
    )
    meta_desc = F.when(
        d % 3 != 0,
        # attribute-order variation on odd ids; the harvest is order-blind
        F.when(
            d % 2 == 1,
            F.concat(
                F.lit('<meta content="'), desc, F.lit('" name="description">')
            ),
        ).otherwise(
            F.concat(
                F.lit('<meta name="description" content="'), desc, F.lit('">')
            )
        ),
    ).otherwise(F.lit(""))
    og = F.when(
        d % 2 == 0,
        F.concat(F.lit('<meta property="og:title" content="OG Doc '), ds, F.lit('">')),
    ).otherwise(F.lit(""))
    ogu = F.when(
        d % 10 == 0,
        F.concat(F.lit('<meta property="og:url" content="'), base, F.lit('">')),
    ).otherwise(F.lit(""))
    m4 = d % 4
    can = (
        F.when(
            m4 == 0,
            F.when(
                d % 8 == 0,
                F.concat(
                    F.lit('<link rel="canonical nofollow" href="/c/'), ds, F.lit('">')
                ),
            ).otherwise(
                F.concat(F.lit('<link rel="canonical" href="/c/'), ds, F.lit('">'))
            ),
        )
        .when(
            m4.isin(1, 2),
            F.concat(
                F.lit('<link href="https://cdn.example.org/c/'),
                ds,
                F.lit('" rel="canonical">'),
            ),
        )
        .otherwise(F.lit(""))
    )
    hre = (
        F.when(d % 3 == 1, F.lit('<link rel="alternate" hreflang="en" href="/en">'))
        .when(
            d % 3 == 2,
            F.lit(
                '<link rel="alternate" hreflang="en" href="/en">'
                '<link rel="alternate" hreflang="de" href="/de">'
            ),
        )
        .otherwise(F.lit(""))
    )
    ld1 = F.when(
        d % 2 == 0,
        F.lit(
            '<script type="application/ld+json">'
            '{"@type":"Article","headline":"h"}</script>'
        ),
    ).otherwise(F.lit(""))
    ld2 = F.when(
        d % 5 == 0,
        F.lit(
            '<script type="application/ld+json">'
            '{"@graph":[{"@type":"WebPage"},{"@type":"Organization"}]}</script>'
        ),
    ).otherwise(F.lit(""))
    ldbad = F.when(
        d % 11 == 0,
        F.lit('<script type="application/ld+json">{bad</script>'),
    ).otherwise(F.lit(""))
    pub = F.when(
        d % 6 != 5,
        F.concat(
            F.lit('<meta property="article:published_time" content="2026-01-'),
            F.lpad(((d % 28) + 1).cast("string"), 2, "0"),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    trail = F.when(
        d % 9 == 0, F.lit("<title>WRONG second title</title>")
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title>"),
        meta_desc, og, ogu, can, hre, ld1, ld2, ldbad, pub,
        F.lit("</head><body><p>body</p>"), trail, F.lit("</body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"), base.alias("base_url"))
    return harvest_metadata(pages)


def _equiv_url(x):
    """url(x) for the equivalence fixture: host by x%7, utm-tracked
    query on every third id (the DUST-ruled param)."""
    return F.concat(
        F.lit("https://h"),
        (x % 7).cast("string"),
        F.lit(".example.com/p/"),
        x.cast("string"),
        F.when(
            x % 3 == 0,
            F.concat(F.lit("?utm="), x.cast("string"), F.lit("&x=1")),
        ).otherwise(F.lit("")),
    )


@query(r"""
        WITH ids AS (SELECT doc_id AS d FROM documents),
        m AS (
          SELECT
            'https://h' || CAST(d % 7 AS VARCHAR) || '.example.com/p/' ||
              CAST(d AS VARCHAR) ||
              CASE WHEN d % 3 = 0
                   THEN '?utm=' || CAST(d AS VARCHAR) || '&x=1'
                   ELSE '' END AS url,
            CASE
              WHEN d % 5 = 0 THEN
                'https://h' || CAST((d + 1) % 7 AS VARCHAR) ||
                '.example.com/p/' || CAST(d + 1 AS VARCHAR) ||
                CASE WHEN (d + 1) % 3 = 0
                     THEN '?utm=' || CAST(d + 1 AS VARCHAR) || '&x=1'
                     ELSE '' END
              WHEN d % 4 = 1 THEN
                'https://h' || CAST((d - 1) % 7 AS VARCHAR) ||
                '.example.com/p/' || CAST(d - 1 AS VARCHAR) ||
                CASE WHEN (d - 1) % 3 = 0
                     THEN '?utm=' || CAST(d - 1 AS VARCHAR) || '&x=1'
                     ELSE '' END
              WHEN d % 3 = 0 THEN
                'https://h' || CAST(d % 7 AS VARCHAR) || '.example.com/p/' ||
                CAST(d AS VARCHAR) || '?x=1'
              ELSE
                'https://h' || CAST(d % 7 AS VARCHAR) || '.example.com/p/' ||
                CAST(d AS VARCHAR)
            END AS canonical_url,
            CASE WHEN d % 5 = 0 THEN 'redirect'
                 WHEN d % 4 = 1 THEN 'rel_canonical'
                 WHEN d % 3 = 0 THEN 'dust'
                 ELSE 'self' END AS source
          FROM ids
        )
        SELECT m.url, m.canonical_url, m.source,
               (m.source <> 'self' AND t.url IS NOT NULL) AS chained
        FROM m LEFT JOIN (
          SELECT DISTINCT url FROM m WHERE source <> 'self'
        ) t ON m.canonical_url = t.url
    """)
def q_url_equivalence(spark, sf_dir):
    """Unified URL-equivalence view (crawl/equivalence.py
    url_equivalence): HTTP redirects + rel=canonical + DUST rules
    folded into one url -> canonical_url mapping with redirect >
    rel_canonical > dust > self precedence and a one-step `chained`
    residue flag.  Fixture: every 5th id 301-redirects to url(d+1)
    (incl. a dangling tail target), every id%4==1 declares
    rel=canonical to url(d-1), every 3rd id carries a ruled utm param;
    the overlaps (d%20==5, d%15==0, d%12==9) pin the precedence
    order."""
    from .crawl.equivalence import url_equivalence

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    u = _equiv_url(d)
    pages = docs.select(
        u.alias("url"),
        F.when(d % 4 == 1, _equiv_url(d - 1)).alias("canonical"),
    )
    log = docs.select(
        u.alias("url"),
        F.when(d % 5 == 0, F.lit(301)).otherwise(F.lit(200)).alias("status"),
        F.when(d % 5 == 0, _equiv_url(d + 1)).alias("location"),
    )
    rules = (
        docs.select((d % 7).alias("i"))
        .distinct()
        .select(
            F.concat(
                F.lit("h"), F.col("i").cast("string"), F.lit(".example.com")
            ).alias("host"),
            F.lit("utm").alias("param"),
        )
    )
    return url_equivalence(pages, log, rules)


@query(r"""
        WITH ids AS (SELECT doc_id AS d FROM documents),
        s AS (
          SELECT DISTINCT 'https://h' || CAST(d % 7 AS VARCHAR) ||
                 '.example.com/s/' || CAST(d AS VARCHAR) AS url
          FROM ids WHERE d % 3 <> 2
        ),
        c AS (
          SELECT DISTINCT url FROM (
            SELECT 'https://h' || CAST(d % 7 AS VARCHAR) ||
                   '.example.com/s/' || CAST(d AS VARCHAR) AS url
            FROM ids WHERE d % 2 = 0
            UNION ALL
            SELECT 'https://h' || CAST(d % 7 AS VARCHAR) ||
                   '.example.com/x/' || CAST(d AS VARCHAR) AS url
            FROM ids WHERE d % 9 = 0
          )
        ),
        j AS (
          SELECT coalesce(s.url, c.url) AS url,
                 CASE WHEN s.url IS NOT NULL THEN 1 ELSE 0 END AS in_s,
                 CASE WHEN c.url IS NOT NULL THEN 1 ELSE 0 END AS in_c
          FROM s FULL JOIN c ON s.url = c.url
        ),
        a AS (
          SELECT regexp_extract(url, '^https?://([^/?#:]+)', 1) AS host,
                 CAST(sum(in_s) AS BIGINT) AS n_sitemap,
                 CAST(sum(in_c) AS BIGINT) AS n_crawled,
                 CAST(sum(in_s * in_c) AS BIGINT) AS n_both
          FROM j GROUP BY 1
        )
        SELECT host, n_sitemap, n_crawled, n_both,
               n_sitemap - n_both AS n_undiscovered,
               n_crawled - n_both AS n_undeclared,
               CASE WHEN n_sitemap > 0
                    THEN round(n_both / n_sitemap, 4) END AS coverage
        FROM a
    """)
def q_sitemap_coverage(spark, sf_dir):
    """Sitemap-vs-crawl coverage diff (sources/sitemap.py
    sitemap_coverage): per-host declared/crawled/both counts plus the
    two gap directions and a 4-dp coverage ratio.  Fixture: sitemaps
    declare ids%3!=2, the crawl reached ids%2==0 plus an undeclared
    /x/ path for ids%9==0, so both gap classes are non-empty on every
    host."""
    from .sources.sitemap import sitemap_coverage

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    u = F.concat(
        F.lit("https://h"), (d % 7).cast("string"),
        F.lit(".example.com/s/"), d.cast("string"),
    )
    ux = F.concat(
        F.lit("https://h"), (d % 7).cast("string"),
        F.lit(".example.com/x/"), d.cast("string"),
    )
    smap = docs.filter(d % 3 != 2).select(u.alias("url"))
    crawl = docs.filter(d % 2 == 0).select(u.alias("url")).unionAll(
        docs.filter(d % 9 == 0).select(ux.alias("url"))
    )
    return sitemap_coverage(smap, crawl)


@query(r"""
        WITH hl AS (
          SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
                 lang, count(*) AS n
          FROM documents GROUP BY 1, 2
        ),
        m AS (
          SELECT host, lang, n,
                 row_number() OVER (
                   PARTITION BY host ORDER BY n DESC, lang ASC
                 ) AS rk
          FROM hl
        ),
        t AS (
          SELECT host, CAST(sum(n) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_langs,
                 sum(n * ln(n)) AS nlogn
          FROM hl GROUP BY host
        )
        SELECT t.host, t.n_docs, t.n_langs, m.lang AS majority_lang,
               round(m.n / t.n_docs, 4) AS majority_share,
               round(ln(t.n_docs) - t.nlogn / t.n_docs, 4) AS lang_entropy
        FROM t JOIN m ON m.host = t.host AND m.rk = 1
    """)
def q_host_lang_profile(spark, sf_dir):
    """Per-host language composition (textops/mix.py
    host_language_profile): doc counts, distinct languages, majority
    language (count desc / lang asc total order), majority share and
    natural-log entropy at the suite's 4-dp float contract.  Hosts are
    keyed by doc_id%7 so every host serves a genuine language mix."""
    from .textops.mix import host_language_profile

    docs = tp(spark, sf_dir, "documents").select("doc_id", "lang")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.com")
    )
    return host_language_profile(docs.select(host.alias("host"), "lang"))


@query(r"""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                         WHEN doc_id % 3 = 1 THEN 2
                         WHEN doc_id % 6 = 5 THEN 1
                         ELSE 0 END AS INTEGER) AS n_scopes,
               CASE WHEN doc_id % 3 = 0 THEN 'https://schema.org/Article'
                    WHEN doc_id % 3 = 1
                    THEN 'https://schema.org/Offer,https://schema.org/Product'
                    END AS itemtypes,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 2
                         WHEN doc_id % 3 = 1 THEN 3
                         WHEN doc_id % 6 = 5 THEN 1
                         ELSE 0 END AS INTEGER) AS n_props
        FROM documents
    """)
def q_microdata(spark, sf_dir):
    """schema.org microdata census (textops/metadata.py
    harvest_microdata): itemscope/itemtype/itemprop counts from real
    markup — Article pages (ids%3==0), nested Product/Offer pages
    (ids%3==1), an untyped scope (ids%6==5), bare pages otherwise.
    Exercises boolean attributes (bare itemscope) and elements carrying
    both itemscope and itemprop."""
    from .textops.metadata import harvest_microdata

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    html = (
        F.when(
            d % 3 == 0,
            F.lit(
                '<html><body><div itemscope itemtype="https://schema.org/Article">'
                '<span itemprop="headline">h</span>'
                '<span itemprop="author">a</span></div></body></html>'
            ),
        )
        .when(
            d % 3 == 1,
            F.lit(
                '<html><body><div itemscope itemtype="https://schema.org/Product">'
                '<span itemprop="name">n</span>'
                '<div itemprop="offers" itemscope '
                'itemtype="https://schema.org/Offer">'
                '<span itemprop="price">1</span></div></div></body></html>'
            ),
        )
        .when(
            d % 6 == 5,
            F.lit(
                '<html><body><div itemscope><b itemprop="x">y</b></div>'
                "</body></html>"
            ),
        )
        .otherwise(F.lit("<html><body><p>plain</p></body></html>"))
    )
    return harvest_microdata(docs.select("doc_id", html.alias("html")))


# HTML table extraction: the fixture's table shapes are fixed per
# doc_id%4 class, so the oracle enumerates the expected (table_idx,
# row_idx, is_header, n_cells, cells) rows as literals.
@query(r"""
    WITH exp(m, table_idx, row_idx, is_header, n_cells, cells) AS (
      VALUES
        (0, 0, 0, 1, 2, 'A|B'),
        (0, 0, 1, 0, 2, '1|2'),
        (0, 0, 2, 0, 2, '3|4'),
        (1, 0, 0, 0, 2, 'x in|y'),
        (1, 1, 0, 0, 1, 'in'),
        (2, 0, 0, 1, 1, 'H'),
        (2, 0, 1, 0, 1, 'd1'),
        (2, 0, 2, 0, 1, 'd2')
    )
    SELECT d.doc_id,
           CAST(e.table_idx AS INT) AS table_idx,
           CAST(e.row_idx AS INT) AS row_idx,
           CAST(e.is_header AS INT) AS is_header,
           CAST(e.n_cells AS INT) AS n_cells,
           e.cells
    FROM documents d JOIN exp e ON (d.doc_id % 4) = e.m
""")
def q_html_tables(spark, sf_dir):
    """HTML table extraction (textops/structure.py extract_tables):
    one row per <tr>, nearest-ancestor-table ownership.  Fixture:
    th-header 2x3 table (ids%4==0), nested-in-td table exercising row
    ownership (ids%4==1), thead/tbody wrappers (ids%4==2), no table
    otherwise — the oracle enumerates the expected rows analytically."""
    from .textops.structure import extract_tables

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    html = (
        F.when(
            d % 4 == 0,
            F.lit(
                "<html><body><table><tr><th>A</th><th>B</th></tr>"
                "<tr><td>1</td><td>2</td></tr>"
                "<tr><td>3</td><td>4</td></tr></table></body></html>"
            ),
        )
        .when(
            d % 4 == 1,
            F.lit(
                "<html><body><table><tr><td>x "
                "<table><tr><td>in</td></tr></table></td>"
                "<td>y</td></tr></table></body></html>"
            ),
        )
        .when(
            d % 4 == 2,
            F.lit(
                "<html><body><table><thead><tr><th>H</th></tr></thead>"
                "<tbody><tr><td>d1</td></tr><tr><td>d2</td></tr></tbody>"
                "</table></body></html>"
            ),
        )
        .otherwise(F.lit("<html><body><p>no tables</p></body></html>"))
    )
    return extract_tables(docs.select("doc_id", html.alias("html")))


@query(r"""
        WITH t AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS nb,
                 CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS b3,
                 CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS b4,
                 CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS b5
          FROM documents
        ),
        c AS (
          SELECT doc_id,
                 CAST(1 + b3 + b4 + b5 AS INTEGER) AS n_lines,
                 CAST(nb + 3*b3 + 3*b4 + 4*b5 AS INTEGER) AS n_words,
                 3.0*b5 + 1.0*b4 AS sym_n,
                 nb + 2*b3 + 3*b4 + 1*b5 AS alpha_n,
                 b3, b4
          FROM t
        )
        SELECT doc_id, n_lines, n_words,
               round(sym_n / n_words, 4) AS symbol_word_ratio,
               round(CAST(b3 AS DOUBLE) / n_lines, 4) AS bullet_line_frac,
               round(CAST(b4 AS DOUBLE) / n_lines, 4) AS ellipsis_line_frac,
               round(alpha_n / CAST(n_words AS DOUBLE), 4) AS alpha_word_frac,
               CASE WHEN sym_n / n_words > 0.1 THEN 'symbol_ratio'
                    WHEN CAST(b3 AS DOUBLE) / n_lines > 0.9 THEN 'bullet_lines'
                    WHEN CAST(b4 AS DOUBLE) / n_lines > 0.3
                         THEN 'ellipsis_lines'
                    WHEN alpha_n / CAST(n_words AS DOUBLE) < 0.8
                         THEN 'alpha_words'
                    ELSE 'keep' END AS verdict
        FROM c
    """)
def q_gopher_signals(spark, sf_dir):
    """Gopher symbol/layout filters (textops/clean.py gopher_signals):
    '#'/'...'-to-word ratio, bullet-line and ellipsis-line fractions,
    alpha-word fraction, first-violation verdict.  Fixture appends a
    bullet line (ids%3==0), an ellipsis line (ids%4==0) and a
    symbol-heavy line (ids%5==0) to each doc's single-line body, so the
    oracle predicts every counter analytically."""
    from .textops.clean import gopher_signals

    docs = tp(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    page = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.lit("\n- item one")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("\nwait for it...")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("\n# # # tag")).otherwise(F.lit("")),
    )
    return gopher_signals(docs.select("doc_id", page.alias("page")))


def _hreflang_url(x):
    return F.concat(
        F.lit("https://h"), (x % 7).cast("string"),
        F.lit(".example.com/p/"), x.cast("string"),
    )


def _hreflang_pages(docs):
    """Shared fixture for the hreflang queries: 3-id language clusters
    {r, r+1, r+2} (en/de/fr by id%3), each page listing all three
    variants; ids%5==0 omit their self link, ids%7==3 add a phantom
    alternate nobody reciprocates, and clusters straddling the id range
    leave dangling targets."""
    d = F.col("doc_id")
    u = _hreflang_url
    langs = ["en", "de", "fr"]
    slots = []
    for o in range(3):
        t = d - d % 3 + o
        slots.append(
            F.when((d % 3 == o) & (d % 5 == 0), F.lit("")).otherwise(
                F.concat(
                    F.lit(f'<link rel="alternate" hreflang="{langs[o]}" href="'),
                    u(t),
                    F.lit('">'),
                )
            )
        )
    extra = F.when(
        d % 7 == 3,
        F.concat(
            F.lit('<link rel="alternate" hreflang="x-default" href="'),
            u(d),
            F.lit('?x">'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), slots[0], slots[1], slots[2], extra,
        F.lit("</head><body></body></html>"),
    )
    return docs.select(u(d).alias("url"), html.alias("html"))


@query(r"""
        WITH ids AS (SELECT doc_id AS d FROM documents),
        e AS (
          SELECT
            'https://h' || CAST(d % 7 AS VARCHAR) || '.example.com/p/' ||
              CAST(d AS VARCHAR) AS url,
            'https://h' || CAST(((d - d % 3) + o) % 7 AS VARCHAR) ||
              '.example.com/p/' || CAST((d - d % 3) + o AS VARCHAR) AS href
          FROM ids CROSS JOIN (VALUES (0), (1), (2)) offs(o)
          WHERE NOT (d % 3 = o AND d % 5 = 0)
          UNION ALL
          SELECT
            'https://h' || CAST(d % 7 AS VARCHAR) || '.example.com/p/' ||
              CAST(d AS VARCHAR),
            'https://h' || CAST(d % 7 AS VARCHAR) || '.example.com/p/' ||
              CAST(d AS VARCHAR) || '?x'
          FROM ids WHERE d % 7 = 3
        ),
        a AS (
          SELECT x.url,
                 CAST(count(*) AS BIGINT) AS n_alternates,
                 CAST(sum(CASE WHEN r.url IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_reciprocal,
                 max(CASE WHEN x.href = x.url THEN 1 ELSE 0 END) AS s
          FROM e x LEFT JOIN (SELECT DISTINCT url, href FROM e) r
            ON r.url = x.href AND r.href = x.url
          GROUP BY x.url
        )
        SELECT url, n_alternates, n_reciprocal, s = 1 AS has_self,
               CASE WHEN n_reciprocal < n_alternates THEN 'broken'
                    WHEN s = 0 THEN 'missing_self'
                    ELSE 'ok' END AS verdict
        FROM a
    """)
def q_hreflang_audit(spark, sf_dir):
    """hreflang cluster audit (textops/metadata.py harvest_hreflang +
    hreflang_audit) over the shared _hreflang_pages fixture: edges are
    harvested from real synthesized <link> markup, then audited with
    one distinct-edge self-join (broken > missing_self > ok)."""
    from .textops.metadata import harvest_hreflang, hreflang_audit

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    return hreflang_audit(harvest_hreflang(_hreflang_pages(docs)))


# bitext candidates: the oracle re-derives the reciprocal cross-lang
# pair set relationally from the SAME fixture arithmetic the audit
# oracle uses (phantom edges omitted — they have no reverse edge and
# drop in the join; including them changes nothing).
@query(r"""
    WITH ids AS (SELECT doc_id AS d FROM documents),
    e AS (
      SELECT
        'https://h' || CAST(d % 7 AS VARCHAR) || '.example.com/p/' ||
          CAST(d AS VARCHAR) AS url,
        'https://h' || CAST(((d - d % 3) + o) % 7 AS VARCHAR) ||
          '.example.com/p/' || CAST((d - d % 3) + o AS VARCHAR) AS href,
        CASE ((d - d % 3) + o) % 3
          WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END AS lang
      FROM ids CROSS JOIN (VALUES (0), (1), (2)) offs(o)
      WHERE NOT (d % 3 = o AND d % 5 = 0)
    ),
    fwd AS (SELECT url AS url_a, href AS url_b, lang AS lang_b
            FROM e WHERE url < href),
    rev AS (SELECT href AS url_a, url AS url_b, lang AS lang_a
            FROM e WHERE href < url),
    p AS (SELECT DISTINCT url_a, url_b, lang_a, lang_b
          FROM fwd JOIN rev USING (url_a, url_b)
          WHERE split_part(lang_a, '-', 1) <> split_part(lang_b, '-', 1)),
    f AS (SELECT
        'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' ||
          CAST(doc_id AS VARCHAR) AS url,
        CAST(doc_id % 50 + 10 AS BIGINT) AS n_tokens,
        'fp' || CAST(doc_id % 2 AS VARCHAR) AS template_fp
      FROM documents)
    SELECT p.url_a, p.url_b, p.lang_a, p.lang_b,
      ROUND(CAST(least(fa.n_tokens, fb.n_tokens) AS DOUBLE)
          / CAST(greatest(fa.n_tokens, fb.n_tokens) AS DOUBLE), 4) AS len_ratio,
      CAST(fa.template_fp = fb.template_fp AS INT) AS same_template,
      ROUND(CAST(fa.template_fp = fb.template_fp AS INT) * 0.5
          + (CAST(least(fa.n_tokens, fb.n_tokens) AS DOUBLE)
           / CAST(greatest(fa.n_tokens, fb.n_tokens) AS DOUBLE)) * 0.5, 4
      ) AS align_score
    FROM p JOIN f fa ON fa.url = p.url_a JOIN f fb ON fb.url = p.url_b
""")
def q_bitext_candidates(spark, sf_dir):
    """Bitext candidate mining (textops/metadata.py bitext_candidates)
    over the shared _hreflang_pages fixture: reciprocal cross-language
    hreflang pairs scored by template equality + token-length ratio.
    Features are synthesized per url (n_tokens = id%50+10, template_fp
    = 'fp'||id%2, so within-cluster pairs mix both template verdicts);
    phantom and dangling alternates self-eliminate in the join."""
    from .textops.metadata import bitext_candidates, harvest_hreflang

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    feats = docs.select(
        _hreflang_url(d).alias("url"),
        (d % 50 + 10).cast("long").alias("n_tokens"),
        F.concat(F.lit("fp"), (d % 2).cast("string")).alias("template_fp"),
    )
    return bitext_candidates(harvest_hreflang(_hreflang_pages(docs)), feats)


def _structure_html(d):
    """Three-template fixture for the DOM-structure queries: the p-count
    in template 1 varies with d%4 so fingerprints differ within one
    template family."""
    w = F.lit("x")
    return (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("<html><body><h1>"), w, F.lit("</h1><p>"), w,
                F.lit("</p></body></html>"),
            ),
        )
        .when(
            d % 3 == 1,
            F.concat(
                F.lit("<html><body><div>"),
                F.array_join(
                    F.array_repeat(
                        F.lit("<p>x</p>"), (d % 4 + 1).cast("int")
                    ),
                    "",
                ),
                F.lit("</div></body></html>"),
            ),
        )
        .otherwise(
            F.lit(
                "<html><body><h1>a</h1><h2>b</h2>"
                "<ul><li>i</li><li>j</li></ul></body></html>"
            )
        )
    )


@query(r"""
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                 WHEN 0 THEN md5('html,body,h1,p')
                 WHEN 1 THEN md5('html,body,div' ||
                                 repeat(',p', CAST(doc_id % 4 AS INTEGER) + 1))
                 ELSE md5('html,body,h1,h2,ul,li,li') END AS template_fp,
               CAST(CASE CAST(doc_id % 3 AS INTEGER)
                 WHEN 0 THEN 4 WHEN 1 THEN 4 + doc_id % 4 ELSE 7 END
                 AS INTEGER) AS n_nodes,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 4 END
                 AS INTEGER) AS max_depth,
               CASE CAST(doc_id % 3 AS INTEGER)
                 WHEN 0 THEN 'h1' WHEN 2 THEN 'h1,h2' END AS heading_seq,
               CAST(CASE CAST(doc_id % 3 AS INTEGER)
                 WHEN 0 THEN 1 WHEN 2 THEN 2 ELSE 0 END
                 AS INTEGER) AS n_headings
        FROM documents
    """)
def q_dom_structure(spark, sf_dir):
    """DOM structural fingerprint (textops/structure.py dom_structure):
    md5 over the pre-order element-tag walk, node/depth counts, and the
    h1-h6 outline sequence per page.  The oracle computes the same md5
    from the fixture's KNOWN tag shape, so any walk-order, implied-tag,
    or depth-accounting bug breaks parity."""
    from .textops.structure import dom_structure

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    pages = docs.select("doc_id", _structure_html(d).alias("html"))
    return dom_structure(pages)


@query(r"""
        WITH fp AS (
          SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
                 CASE CAST(doc_id % 3 AS INTEGER)
                   WHEN 0 THEN md5('html,body,h1,p')
                   WHEN 1 THEN md5('html,body,div' ||
                                   repeat(',p', CAST(doc_id % 4 AS INTEGER) + 1))
                   ELSE md5('html,body,h1,h2,ul,li,li') END AS fp
          FROM documents
        ),
        per AS (SELECT host, fp, count(*) AS n FROM fp GROUP BY 1, 2),
        rk AS (
          SELECT host, fp, n,
                 row_number() OVER (
                   PARTITION BY host ORDER BY n DESC, fp ASC
                 ) AS r
          FROM per
        ),
        t AS (
          SELECT host, CAST(sum(n) AS BIGINT) AS n_pages,
                 CAST(count(*) AS BIGINT) AS n_templates,
                 CAST(max(n) AS BIGINT) AS top_n
          FROM per GROUP BY host
        )
        SELECT t.host, t.n_pages, t.n_templates, rk.fp AS top_fp,
               round(t.top_n / t.n_pages, 4) AS top_share
        FROM t JOIN rk ON rk.host = t.host AND rk.r = 1
    """)
def q_template_stats(spark, sf_dir):
    """Per-host template census (textops/structure.py template_stats)
    over the same fixture, hosts keyed by doc_id%7: page/template
    counts and the dominant template (count desc, fp asc) with its
    4-dp share."""
    from .textops.structure import dom_structure, template_stats

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    pages = docs.select("doc_id", _structure_html(d).alias("html"))
    s = dom_structure(pages).join(
        docs.select(
            "doc_id",
            F.concat(
                F.lit("h"), (d % 7).cast("string"), F.lit(".example.com")
            ).alias("host"),
        ),
        "doc_id",
    )
    return template_stats(s)


# The DuckDB twin of lsh_candidate_pairs: word 3-gram shingles (sh),
# the md5-MinHash signature (sig), 8 bands of 2 rows (bands) and the
# doc pairs sharing a band key (cand).  Every MinHash-LSH oracle splices these CTEs.
_LSH_CTES = rf"""toks AS (
          SELECT doc_id, {_TOKS} AS tk FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 list_transform(range(0, len(tk) - 2),
                                i -> array_to_string(tk[i+1:i+3], ' ')) AS s
          FROM toks WHERE len(tk) >= 3
        ),
        sig AS (
          SELECT doc_id,
                 list_transform(range(0, 16),
                   h -> list_min(list_transform(s,
                          g -> substr(md5(h || ':' || g), 1, 16)))) AS sg
          FROM sh WHERE len(s) > 0
        ),
        bands AS (
          SELECT doc_id, j.band_idx,
                 md5(array_to_string(sg[j.band_idx*2+1:j.band_idx*2+2], ',')) AS band_key
          FROM sig, (SELECT unnest(range(0, 8)) AS band_idx) j
        ),
        cand AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM bands a JOIN bands b USING (band_idx, band_key)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )"""

# The transitive closure of the cand pairs, for a WITH RECURSIVE after
# _LSH_CTES: reach(node, r) holds when r is in node's component; MIN(r)
# per node = the component's canonical id — exactly hash-min's
# fixpoint.
_CLOSURE_CTES = """e AS (
          SELECT id1 AS a, id2 AS b FROM cand
          UNION ALL
          SELECT id2 AS a, id1 AS b FROM cand
        ),
        reach AS (
          SELECT doc_id AS node, doc_id AS r FROM documents
          UNION
          SELECT e.b AS node, reach.r FROM reach JOIN e ON e.a = reach.node
        ),
        comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)"""


def _lsh_graph(docs: DataFrame):
    """The near-dup graph of the dedup_clusters* and canonical_docs
    queries: lsh_candidate_pairs as (src, dst) edges, and
    every document as a node (singletons are their own cluster)."""
    pairs = lsh_candidate_pairs(docs)
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    return edges, docs.select(F.col("doc_id").alias("node"))


# dedup_clusters: the LSH candidate edges, then their closure.
_DEDUP_CLUSTERS_SQL = f"""
        WITH RECURSIVE {_LSH_CTES},
        {_CLOSURE_CTES}
        SELECT node AS doc_id, cluster_id,
               CAST(CASE WHEN node = cluster_id THEN 1 ELSE 0 END AS INTEGER)
                 AS is_canonical,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp
    """


@query(_DEDUP_CLUSTERS_SQL)
def q_dedup_clusters(spark, sf_dir):
    """LSH candidate pairs → connected components → keep-one-per-cluster:
    the composed end-of-pipeline dedup output (transitive closure of the
    near-dup relation; pairs alone under-merge A~B~C chains).  Runs the
    DEFAULT algorithm — star-contraction, O(log n) rounds regardless of
    component diameter (the plan that survives a power-law web graph).
    The DuckDB twin computes the identical closure with a recursive
    CTE."""
    from .graph import dedup_clusters

    return dedup_clusters(*_lsh_graph(tp(spark, sf_dir, "documents")))


# the star-contraction CC computes the same closure as hash-min: both
# algorithms are pinned to the one recursive-CTE ground truth
@query(_DEDUP_CLUSTERS_SQL)
def q_dedup_clusters_star(spark, sf_dir):
    """The transitive-closure contract with algorithm='star' named
    EXPLICITLY (same path as the default — kept so the driver row keyed
    to this name stays continuous across rounds) — oracle-gated against
    the identical recursive-CTE closure as the hash-min twin, so both
    algorithms are pinned to one ground truth."""
    from .graph import dedup_clusters

    return dedup_clusters(*_lsh_graph(tp(spark, sf_dir, "documents")), algorithm="star")


@query(_DEDUP_CLUSTERS_SQL)
def q_dedup_clusters_hashmin(spark, sf_dir):
    """The differential twin: hash-min label propagation (O(diameter)
    rounds — right for shallow near-dup components, the weak plan for
    power-law graphs, which is why it is no longer the default).
    Oracle-gated against the same recursive-CTE closure."""
    from .graph import dedup_clusters

    return dedup_clusters(*_lsh_graph(tp(spark, sf_dir, "documents")), algorithm="hashmin")


# canonical_docs: the dedup_clusters closure + quality-ranked
# canonical election (quality DESC, id ASC within each cluster).
@query(rf"""
        WITH RECURSIVE {_LSH_CTES},
        {_CLOSURE_CTES},
        sized AS (
          SELECT node, cluster_id,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
          FROM comp
        ),
        q AS (
          SELECT doc_id,
                 floor((0.4 * least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
                     + 0.3 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                              / CAST(len({_TOKS}) AS DOUBLE))
                     + 0.2 * (1.0 - CAST(length(text)
                              - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
                              / CAST(length(text) AS DOUBLE))
                     + 0.1 * least(1.0, (CAST(len(list_filter({_TOKS},
                              t -> t IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE)
                              / CAST(len({_TOKS}) AS DOUBLE)) * 5.0)) * 10000.0 + 0.5)
                   / 10000.0 AS quality
          FROM documents
        )
        SELECT node AS doc_id, cluster_id,
               CAST(CASE WHEN ROW_NUMBER() OVER (
                 PARTITION BY cluster_id ORDER BY quality DESC, node ASC
               ) = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_canonical,
               cluster_size, quality
        FROM sized JOIN q ON q.doc_id = sized.node
    """)
def q_canonical_docs(spark, sf_dir):
    """End-of-pipeline dedup retention: LSH pairs → connected
    components → QUALITY-ranked canonical election (graph.py
    select_canonical) — the keep-set a training pipeline materializes.
    min-id retention is content-blind (a truncated mirror can win by
    crawl order); ranking by the quality signal inside each cluster
    keeps the best copy.  The DuckDB twin recomputes the closure with a
    recursive CTE and re-elects with the same (quality DESC, id ASC)
    window."""
    from .graph import dedup_clusters, select_canonical
    from .textops.quality import quality_expr

    docs = tp(spark, sf_dir, "documents")
    clusters = dedup_clusters(*_lsh_graph(docs))
    quality = docs.select("doc_id", quality_expr().alias("quality"))
    return select_canonical(clusters, quality)


@query(rf"""
        WITH v AS (
          SELECT doc_id,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> t IN ('the','a','of','and','to','in','is','that'))) AS votes_en,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS votes_de,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> t IN ('le','la','les','et','est','un','une','dans'))) AS votes_fr,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> t IN ('el','los','las','es','un','una','en','que'))) AS votes_es
          FROM documents
        )
        SELECT doc_id,
          CASE WHEN greatest(votes_en, votes_de, votes_fr, votes_es) = 0 THEN 'und'
               WHEN votes_en = greatest(votes_en, votes_de, votes_fr, votes_es) THEN 'en'
               WHEN votes_de = greatest(votes_en, votes_de, votes_fr, votes_es) THEN 'de'
               WHEN votes_fr = greatest(votes_en, votes_de, votes_fr, votes_es) THEN 'fr'
               ELSE 'es' END AS pred_lang,
          votes_en, votes_de, votes_fr, votes_es
        FROM v
    """)
def q_langid(spark, sf_dir):
    return langid(tp(spark, sf_dir, "documents"))


@query(rf"""
        WITH n AS (
          SELECT doc_id, {_NORM} AS norm,
                 string_split_regex({_NORM}, '\s+') AS tk
          FROM documents
        )
        SELECT doc_id,
          substr(md5(norm), 1, 16) AS content_fp,
          list_min(list_transform(
            CASE WHEN len(tk) >= 4
                 THEN list_transform(range(0, len(tk) - 3),
                                     i -> array_to_string(tk[i+1:i+4], ' '))
                 ELSE CAST([] AS VARCHAR[]) END,
            g -> substr(md5(g), 1, 16))) AS min_gram_fp
        FROM n
    """)
def q_doc_fingerprints(spark, sf_dir):
    return doc_fingerprints(tp(spark, sf_dir, "documents"))


# -------------------------------------------------------------------- dedup
@query(rf"""
        WITH v AS (
          SELECT doc_id, text,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> t IN ('the','a','of','and','to','in','is','that'))) AS ven,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS vde,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> t IN ('le','la','les','et','est','un','une','dans'))) AS vfr,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> t IN ('el','los','las','es','un','una','en','que'))) AS ves
          FROM documents
        ),
        e AS (
          SELECT doc_id,
            CASE WHEN greatest(ven, vde, vfr, ves) = 0 THEN 'und'
                 WHEN ven = greatest(ven, vde, vfr, ves) THEN 'en'
                 WHEN vde = greatest(ven, vde, vfr, ves) THEN 'de'
                 WHEN vfr = greatest(ven, vde, vfr, ves) THEN 'fr'
                 ELSE 'es' END AS pred_lang,
            floor((0.4 * least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
              + 0.3 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE))
              + 0.2 * (1.0 - (CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)))
              + 0.1 * least(1.0, (CAST(len(list_filter({_TOKS}, t -> t IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE)) * 5.0)) * 10000.0 + 0.5) / 10000.0 AS quality,
            substr(md5({_NORM}), 1, 16) AS fp
          FROM v
        ),
        f AS (
          SELECT * FROM e WHERE pred_lang IN ('en', 'und') AND quality >= 0.4
        )
        SELECT doc_id, pred_lang, quality
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
        WHERE rn = 1
    """)
def q_corpus_filter(spark, sf_dir):
    """The composed training-data admission pass (langid + quality +
    keep-first exact dedup) in one scan + one window shuffle."""
    from .textops.quality import corpus_filter

    return corpus_filter(tp(spark, sf_dir, "documents"))


@query(rf"""
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               ROUND(CAST(SUM(CAST(floor((0.4 * least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
              + 0.3 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE))
              + 0.2 * (1.0 - (CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)))
              + 0.1 * least(1.0, (CAST(len(list_filter({_TOKS}, t -> t IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE)) * 5.0)) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_quality
        FROM documents
        GROUP BY 1, 2
    """)
def q_corpus_stats(spark, sf_dir):
    """Corpus sizing aggregate per (source, lang): docs, tokens, chars,
    decimal-exact summed quality — the numbers a training-mix plan is
    built from.  Output representation is pinned for cross-engine hash
    stability: explicit long counts (DuckDB SUM yields HUGEINT, which
    arrow-exports as decimal — the BIGINT cast keeps both engines on
    int64) and sum_quality rounded to the 4-dp contract every other
    quality row uses (the internal sum stays decimal-exact; only the
    emitted double is rounded)."""
    from .textops.quality import quality_expr

    docs = tp(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.round(
            F.sum(quality_expr().cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_quality"),
    )


@query(rf"""
        WITH e AS (
          SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
                 CAST(floor((0.4 * least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
                   + 0.3 * (CAST(len(list_distinct({_TOKS})) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE))
                   + 0.2 * (1.0 - (CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)))
                   + 0.1 * least(1.0, (CAST(len(list_filter({_TOKS}, t -> t IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE)) * 5.0)) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS q,
                 substr(md5({_NORM}), 1, 16) AS fp
          FROM documents
        )
        SELECT host, COUNT(*) AS n_docs,
               CAST(SUM(q) AS DOUBLE) AS sum_quality,
               ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 4)
                 AS dup_frac,
               ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 4) AS avg_quality
        FROM e GROUP BY 1
    """)
def q_host_stats(spark, sf_dir):
    """Host reputation aggregate: docs are assigned hosts by doc_id%7
    (same derivation as the streaming queries) and rolled up into the
    per-host quality/dup signals the frontier scheduler consumes."""
    from .textops.quality import host_quality_stats

    docs = tp(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.org")
    )
    return host_quality_stats(docs.select(host.alias("host"), "text"))


def _dust_pages(spark, sf_dir):
    """Deterministic DUST corpus: every 3 consecutive doc_ids serve one
    content blob under a clean URL + two query-string aliases."""
    docs = tp(spark, sf_dir, "documents").select("doc_id")
    grp = (F.col("doc_id") / 3).cast("long")
    base = F.concat(F.lit("https://d.example.org/p/"), grp.cast("string"))
    url = F.when(F.col("doc_id") % 3 == 0, base).when(
        F.col("doc_id") % 3 == 1, F.concat(base, F.lit("?utm_source=feed"))
    ).otherwise(
        F.concat(base, F.lit("?utm_source=feed&sess="), F.col("doc_id").cast("string"))
    )
    text = F.concat(F.lit("content block "), grp.cast("string"))
    return docs.select(url.alias("url"), text.alias("text"))


# DUST corpus shared by url_aliases / dust_rules: every 3 doc_ids
# serve one content blob under base + ?utm_source + ?utm_source&sess
# URLs; canonical = MIN(url) (the bare base, shortest-prefix-first).
@query(r"""
        WITH e AS (
          SELECT 'https://d.example.org/p/' || CAST(doc_id // 3 AS VARCHAR)
                 || CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN '?utm_source=feed'
                    ELSE '?utm_source=feed&sess=' || CAST(doc_id AS VARCHAR) END AS url,
                 'content block ' || CAST(doc_id // 3 AS VARCHAR) AS text
          FROM documents
        ),
        f AS (
          SELECT url,
                 substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)
                   AS content_fp
          FROM e
        ),
        c AS (
          SELECT content_fp, MIN(url) AS canonical_url,
                 COUNT(DISTINCT url) AS n
          FROM f GROUP BY 1
        )
        SELECT f.url AS alias_url, c.canonical_url, f.content_fp
        FROM f JOIN c USING (content_fp)
        WHERE c.n > 1 AND f.url <> c.canonical_url
    """)
def q_url_aliases(spark, sf_dir):
    """DUST alias mining (crawl/dust.py): distinct URLs serving
    byte-identical normalized content collapse onto MIN(url) — one row
    per alias (linear), never the quadratic within-group pair set."""
    from .crawl.dust import url_aliases

    return url_aliases(_dust_pages(spark, sf_dir))


@query(r"""
        WITH e AS (
          SELECT 'https://d.example.org/p/' || CAST(doc_id // 3 AS VARCHAR)
                 || CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN '?utm_source=feed'
                    ELSE '?utm_source=feed&sess=' || CAST(doc_id AS VARCHAR) END AS url,
                 'content block ' || CAST(doc_id // 3 AS VARCHAR) AS text
          FROM documents
        ),
        f AS (
          SELECT url,
                 substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)
                   AS content_fp
          FROM e
        ),
        c AS (
          SELECT content_fp, MIN(url) AS canonical_url,
                 COUNT(DISTINCT url) AS n
          FROM f GROUP BY 1
        ),
        al AS (
          SELECT f.url AS alias_url, c.canonical_url
          FROM f JOIN c USING (content_fp)
          WHERE c.n > 1 AND f.url <> c.canonical_url
        ),
        p AS (
          SELECT regexp_extract(alias_url, '^https?://([^/?#:]+)', 1) AS host,
                 UNNEST(list_filter(
                   list_transform(
                     string_split(regexp_extract(alias_url, '^[^?#]*\?([^#]*)', 1), '&'),
                     s -> string_split(s, '=')[1]),
                   k -> k <> '' AND NOT list_contains(
                     list_transform(
                       string_split(regexp_extract(canonical_url, '^[^?#]*\?([^#]*)', 1), '&'),
                       s -> string_split(s, '=')[1]), k)
                 )) AS param
          FROM al
          WHERE regexp_extract(alias_url, '^https?://([^/?#:]+)', 1)
                  = regexp_extract(canonical_url, '^https?://([^/?#:]+)', 1)
            AND regexp_extract(alias_url, '^https?://[^/?#]+([^?#]*)', 1)
                  = regexp_extract(canonical_url, '^https?://[^/?#]+([^?#]*)', 1)
        )
        SELECT host, param, COUNT(*) AS votes
        FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """)
def q_dust_rules(spark, sf_dir):
    """Composed DUST pipeline: alias mining → per-host irrelevant-query-
    parameter vote aggregation (str_to_map/array_except, zero Python).
    utm_source collects 2 votes per content group, sess one."""
    from .crawl.dust import dust_param_rules, url_aliases

    return dust_param_rules(url_aliases(_dust_pages(spark, sf_dir)))


@query(r"""
        WITH e AS (
          SELECT CASE WHEN doc_id % 7 = 0
                   THEN 'https://h0.example.org'
                        || repeat('/cal', CAST(doc_id % 5 + 1 AS INTEGER))
                        || '?sess=' || CAST(doc_id AS VARCHAR)
                   ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR)
                        || '.example.org/a/' || CAST(doc_id AS VARCHAR) END AS url,
                 CASE WHEN doc_id % 7 = 0 THEN 'trap page'
                   ELSE 'page ' || CAST(doc_id AS VARCHAR) END AS text
          FROM documents
        ),
        f AS (
          SELECT regexp_extract(url, '^https?://([^/?#:]+)', 1) AS host,
                 substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)
                   AS fp,
                 CAST(len(list_filter(
                   string_split(regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1), '/'),
                   s -> s <> '')) AS DOUBLE) AS depth,
                 CASE WHEN regexp_extract(url, '^[^?#]*\?([^#]*)', 1) <> ''
                   THEN 1.0 ELSE 0.0 END AS has_q
          FROM e
        ),
        a AS (
          SELECT host, COUNT(*) AS n_urls, COUNT(DISTINCT fp) AS n_content,
                 ROUND(AVG(depth), 4) AS avg_path_depth,
                 CAST(MAX(depth) AS INTEGER) AS max_path_depth,
                 ROUND(AVG(has_q), 4) AS query_frac
          FROM f GROUP BY 1
        )
        SELECT host, n_urls, n_content,
               ROUND(CAST(n_urls AS DOUBLE) / CAST(n_content AS DOUBLE), 4)
                 AS url_inflation,
               avg_path_depth, max_path_depth, query_frac,
               ROUND(0.6 * (1.0 - 1.0 / (CAST(n_urls AS DOUBLE) / CAST(n_content AS DOUBLE)))
                   + 0.25 * (avg_path_depth / (4.0 + avg_path_depth))
                   + 0.15 * query_frac, 4) AS trap_score
        FROM a
    """)
def q_host_traps(spark, sf_dir):
    """Crawl-trap detection: per-host URL-inflation / path-depth /
    query-minting signals + bounded composite trap score.  Host h0
    is synthesized as a calendar trap (one content blob, growing
    paths, session params); h1-h6 serve honest unique pages."""
    from .crawl.dust import host_trap_stats

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    hid = F.col("doc_id") % 7
    host = F.concat(F.lit("h"), hid.cast("string"), F.lit(".example.org"))
    depth = (F.col("doc_id") % 5 + 1).cast("int")
    trap_url = F.concat(
        F.lit("https://"), host, F.repeat(F.lit("/cal"), depth),
        F.lit("?sess="), F.col("doc_id").cast("string"),
    )
    good_url = F.concat(
        F.lit("https://"), host, F.lit("/a/"), F.col("doc_id").cast("string")
    )
    url = F.when(hid == 0, trap_url).otherwise(good_url)
    text = F.when(hid == 0, F.lit("trap page")).otherwise(
        F.concat(F.lit("page "), F.col("doc_id").cast("string"))
    )
    return host_trap_stats(docs.select(url.alias("url"), text.alias("text")))


_LINKS_SQL = """
        WITH s AS (
          SELECT doc_id,
                 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org'
                   AS origin,
                 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/d/'
                   || CAST(doc_id AS VARCHAR) AS src
          FROM documents
        )
        SELECT src, origin || '/d/' || CAST(doc_id * 2 AS VARCHAR) AS dst,
               'next item' AS anchor, CAST(0 AS INTEGER) AS link_idx,
               CAST(0 AS INTEGER) AS nofollow, CAST(1 AS INTEGER) AS internal
        FROM s
        UNION ALL
        SELECT src,
               'https://ext.example.net/e/' || CAST(doc_id AS VARCHAR) || '?x=1'
                 AS dst,
               'ext ' || CAST(doc_id AS VARCHAR) AS anchor,
               CAST(1 AS INTEGER) AS link_idx,
               CAST(1 AS INTEGER) AS nofollow, CAST(0 AS INTEGER) AS internal
        FROM s
    """


@query(_LINKS_SQL)
def q_links_extract(spark, sf_dir):
    """Anchor-text link extraction (crawl/links.py): per-doc HTML with
    a relative link (nested markup in the anchor), an external nofollow
    link, and a fragment link (skipped) — one DOM walk per page, rows
    re-predicted field-by-field by the oracle (resolution, whitespace
    normalization, document order, both flags)."""
    from .crawl.links import links_from_html

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id").cast("string")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.org"))
    url = F.concat(F.lit("https://"), host, F.lit("/d/"), d)
    html = F.concat(
        F.lit('<html><body><p>intro</p><a href="/d/'),
        (F.col("doc_id") * 2).cast("string"),
        F.lit('">next  <b>item</b></a><a href="https://ext.example.net/e/'),
        d,
        F.lit('?x=1" rel="nofollow">ext '),
        d,
        F.lit('</a><a href="#top">skip</a></body></html>'),
    )
    return links_from_html(docs.select(url.alias("url"), html.alias("html")))


def _synth_links(spark, sf_dir):
    """Deterministic link table for the aggregation-side link ops
    (links_extract already oracle-gates the HTML-extraction side)."""
    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    return docs.select(
        F.concat(
            F.lit("https://h"), (d % 5).cast("string"),
            F.lit(".example.org/p/"), d.cast("string"),
        ).alias("src"),
        F.concat(
            F.lit("https://t.example.org/t/"), (d % 20).cast("string")
        ).alias("dst"),
        F.concat(F.lit("label "), (d % 3).cast("string")).alias("anchor"),
        F.lit(0).alias("link_idx"),
        F.when(d % 7 == 0, 1).otherwise(0).alias("nofollow"),
        F.lit(0).alias("internal"),
    )


@query("""
        WITH l AS (
          SELECT 'https://h' || (doc_id % 5) || '.example.org/p/' || doc_id
                   AS src,
                 'https://t.example.org/t/' || (doc_id % 20) AS dst,
                 'label ' || (doc_id % 3) AS anchor
          FROM documents WHERE doc_id % 7 <> 0
        ),
        t AS (
          SELECT dst, COUNT(*) AS in_links, COUNT(DISTINCT src) AS n_src
          FROM l GROUP BY 1
        ),
        c AS (SELECT dst, anchor, COUNT(*) AS n FROM l GROUP BY 1, 2),
        r AS (
          SELECT dst, anchor, n,
                 ROW_NUMBER() OVER (
                   PARTITION BY dst ORDER BY n DESC, anchor ASC
                 ) AS rk
          FROM c
        ),
        f AS (
          SELECT dst, CAST(SUM(n) AS BIGINT) AS top_anchor_links,
                 string_agg(lpad(CAST(rk AS VARCHAR), 2, '0') || ':' || anchor,
                            '|' ORDER BY lpad(CAST(rk AS VARCHAR), 2, '0') || ':' || anchor)
                   AS top_anchors
          FROM r WHERE rk <= 2 GROUP BY dst
        )
        SELECT f.dst, t.in_links, t.n_src, f.top_anchor_links, f.top_anchors
        FROM f JOIN t ON f.dst = t.dst
    """)
def q_anchor_index(spark, sf_dir):
    """Anchor-text index (crawl/links.py anchor_text_index): per-target
    top-k most common anchors with deterministic tie-breaks; nofollow
    links excluded.  The window under rank<=k plans a map-side
    WindowGroupLimit so the shuffle carries at most k rows per (dst,
    partition)."""
    from .crawl.links import anchor_text_index

    return anchor_text_index(_synth_links(spark, sf_dir))


@query("""
        WITH l AS (
          SELECT 'h' || (doc_id % 5) || '.example.org' AS src_host,
                 't.example.org' AS dst_host,
                 CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS nf
          FROM documents
        )
        SELECT src_host, dst_host, COUNT(*) AS n_links,
               CAST(SUM(nf) AS BIGINT) AS n_nofollow,
               CAST(CASE WHEN src_host = dst_host THEN 1 ELSE 0 END AS INTEGER)
                 AS internal
        FROM l GROUP BY 1, 2
    """)
def q_host_graph(spark, sf_dir):
    """Domain-level link graph rollup (crawl/links.py host_graph):
    (src_host, dst_host) edge weights + nofollow counts — the ~10^4×
    smaller graph that site-level authority/spam analyses iterate on."""
    from .crawl.links import host_graph

    return host_graph(_synth_links(spark, sf_dir))


@query("""
        WITH u AS (
          SELECT doc_id,
                 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/d/'
                   || CAST(doc_id AS VARCHAR) AS url_canon
          FROM documents
        ),
        h AS (
          SELECT url_canon,
                 CAST(doc_id % 5 + 1 AS BIGINT) AS fetch_count,
                 CAST(doc_id % 3 AS BIGINT) AS change_count,
                 CAST(doc_id % 11 AS INTEGER) AS last_fetch_round,
                 CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS content_fp
          FROM u WHERE doc_id % 4 <> 2
        ),
        f AS (
          SELECT url_canon,
                 CASE WHEN doc_id % 8 = 0 THEN 'a' ELSE 'c' END AS new_fp
          FROM u WHERE doc_id % 2 = 0
        )
        SELECT COALESCE(h.url_canon, f.url_canon) AS url_canon,
               COALESCE(h.fetch_count, 0)
                 + CASE WHEN f.url_canon IS NOT NULL THEN 1 ELSE 0 END
                 AS fetch_count,
               COALESCE(h.change_count, 0)
                 + CASE WHEN f.url_canon IS NOT NULL AND h.url_canon IS NOT NULL
                             AND h.content_fp <> f.new_fp THEN 1 ELSE 0 END
                 AS change_count,
               CAST(CASE WHEN f.url_canon IS NOT NULL THEN 17
                    ELSE h.last_fetch_round END AS INTEGER) AS last_fetch_round,
               COALESCE(f.new_fp, h.content_fp) AS content_fp
        FROM h FULL OUTER JOIN f ON h.url_canon = f.url_canon
    """)
def q_fetch_history(spark, sf_dir):
    """Fetch-history fold (frontier/freshness.py update_fetch_history):
    one round's (url, fingerprint) results merged into the per-URL
    change-rate state — increment-on-fetch, change only when a PRIOR
    differing fingerprint exists, pass-through for untouched rows, init
    for first-seen URLs.  Synthesis covers all four regimes (unchanged
    refetch, changed refetch, new URL, untouched history)."""
    from .frontier.freshness import update_fetch_history

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (d % 7).cast("string"),
        F.lit(".example.org/d/"), d.cast("string"),
    )
    history = docs.filter(d % 4 != 2).select(
        url.alias("url_canon"),
        (d % 5 + 1).cast("long").alias("fetch_count"),
        (d % 3).cast("long").alias("change_count"),
        (d % 11).cast("int").alias("last_fetch_round"),
        F.when(d % 2 == 0, F.lit("a")).otherwise(F.lit("b")).alias("content_fp"),
    )
    fetched = docs.filter(d % 2 == 0).select(
        url.alias("url_canon"),
        F.when(d % 8 == 0, F.lit("a")).otherwise(F.lit("c")).alias("content_fp"),
    )
    return update_fetch_history(history, fetched, now_round=17)


@query("""
        WITH log AS (
          SELECT 'h' || (doc_id % 13) || '.example.org' AS host,
                 CAST((doc_id % 17) * (doc_id % 17) * 40 + doc_id % 7 + 25 AS BIGINT) AS latency_ms
          FROM documents
        ),
        agg AS (
          SELECT host,
                 COUNT(*) AS n_obs,
                 ROUND(quantile_cont(latency_ms, 0.5), 4) AS p50_ms
          FROM log GROUP BY host
        ),
        d AS (
          SELECT host, n_obs, p50_ms,
                 LEAST(GREATEST(ROUND(p50_ms * 2, 4), 200.0), 10000.0) AS delay_ms
          FROM agg
        )
        SELECT host, n_obs, p50_ms, delay_ms,
               CAST(FLOOR(60000 / delay_ms) AS BIGINT) AS budget
        FROM d
    """)
def q_adaptive_delays(spark, sf_dir):
    """Latency-adaptive politeness (frontier/politeness.py
    adaptive_delays): per-host crawl delay from the observed fetch-
    latency median, clamped, with the per-round token budget it implies
    — the budgets side of schedule_batch.  Latencies synthesized with a
    long tail (d%17 squared) so the clamp hits both rails."""
    from .frontier.politeness import adaptive_delays

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    log = docs.select(
        F.concat(F.lit("h"), (d % 13).cast("string"), F.lit(".example.org"))
        .alias("host"),
        ((d % 17) * (d % 17) * 40 + d % 7 + 25).cast("long").alias("latency_ms"),
    )
    return adaptive_delays(log, round_seconds=60)


@query("""
        WITH o AS (
          SELECT 'https://h' || (doc_id % 7) || '.example.org/d/' || doc_id AS url,
                 'fp' || (doc_id % 4) AS old_fp
          FROM documents WHERE doc_id % 7 <> 3
        ),
        n AS (
          SELECT 'https://h' || (doc_id % 7) || '.example.org/d/' || doc_id AS url,
                 'fp' || (CASE WHEN doc_id % 3 = 0 THEN doc_id % 4 + 1
                               ELSE doc_id % 4 END) AS new_fp
          FROM documents WHERE doc_id % 11 <> 5
        )
        SELECT COALESCE(o.url, n.url) AS url, o.old_fp, n.new_fp,
               CASE WHEN o.old_fp IS NULL THEN 'added'
                    WHEN n.new_fp IS NULL THEN 'removed'
                    WHEN o.old_fp <> n.new_fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.url = n.url
    """)
def q_crawl_diff(spark, sf_dir):
    """Snapshot change detection (frontier/freshness.py crawl_diff):
    full-outer fingerprint join classifying every URL as added/removed/
    changed/unchanged — the verdict stream freshness models and
    re-extraction queues consume.  Synthesis: d%7==3 absent from the
    old crawl (added), d%11==5 absent from the new (removed), d%3==0
    fingerprints rotate (changed)."""
    from .frontier.freshness import crawl_diff

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://h"), (d % 7).cast("string"),
                   F.lit(".example.org/d/"), d.cast("string"))
    old = docs.filter(d % 7 != 3).select(
        url.alias("url"),
        F.concat(F.lit("fp"), (d % 4).cast("string")).alias("content_fp"),
    )
    new = docs.filter(d % 11 != 5).select(
        url.alias("url"),
        F.concat(
            F.lit("fp"),
            F.when(d % 3 == 0, (d % 4 + 1)).otherwise(d % 4).cast("string"),
        ).alias("content_fp"),
    )
    return crawl_diff(old, new)


@query("""
        WITH vers AS (
          SELECT 'https://h' || (doc_id % 7) || '.example.org/d/' || doc_id AS url,
                 doc_id,
                 unnest(range(0, doc_id % 3 + 1)) AS v
          FROM documents
        ),
        s AS (
          SELECT url,
                 CAST(1700000000 + doc_id * 100 + v * 17 AS BIGINT) AS snap_epoch,
                 'fp-' || doc_id || '-' || v AS content_fp
          FROM vers
        ),
        p AS (
          SELECT 'https://h' || (doc_id % 7) || '.example.org/d/' || doc_id AS url,
                 CAST(1700000000 + doc_id * 100 + (doc_id % 5) * 10
                      + CASE WHEN doc_id % 7 = 0 THEN -200 ELSE 0 END AS BIGINT) AS as_of_epoch
          FROM documents
        )
        SELECT p.url, p.as_of_epoch, s.snap_epoch, s.content_fp
        FROM p ASOF JOIN s
          ON p.url = s.url AND s.snap_epoch <= p.as_of_epoch
    """)
def q_snapshot_asof(spark, sf_dir):
    """As-of join (frontier/freshness.py snapshot_asof): each probe
    (url, as_of) returns the latest capture with snap_epoch <= as_of —
    the time-consistent read of an archive-backed pages table.  The
    DuckDB oracle is a LITERAL ``ASOF JOIN``, so two entirely different
    algorithms (narrow max-agg + payload fetch vs DuckDB's native
    operator) are pinned to the same semantics.  Synthesis: 1-3
    captures per doc at +17s spacing; probe offsets (d%5)*10 land on,
    between, and after captures; d%7==0 probes predate the first
    capture and must drop (inner as-of)."""
    from .frontier.freshness import snapshot_asof

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (d % 7).cast("string"),
        F.lit(".example.org/d/"), d.cast("string"),
    )
    vers = docs.select(
        url.alias("url"),
        d.alias("doc_id"),
        F.explode(F.sequence(F.lit(0), (d % 3).cast("int"))).alias("v"),
    )
    snaps = vers.select(
        "url",
        (F.lit(1700000000) + F.col("doc_id") * 100 + F.col("v") * 17)
        .cast("long").alias("snap_epoch"),
        F.concat(
            F.lit("fp-"), F.col("doc_id").cast("string"),
            F.lit("-"), F.col("v").cast("string"),
        ).alias("content_fp"),
    )
    probes = docs.select(
        url.alias("url"),
        (
            F.lit(1700000000) + d * 100 + (d % 5) * 10
            + F.when(d % 7 == 0, F.lit(-200)).otherwise(F.lit(0))
        ).cast("long").alias("as_of_epoch"),
    )
    return snapshot_asof(snaps, probes, ts="snap_epoch", probe_ts="as_of_epoch")


@query("""
        WITH u AS (
          SELECT doc_id, 'https://r.example.org/p/' || doc_id AS url_canon
          FROM documents
        ),
        s AS (
          SELECT url_canon, CAST(doc_id % 3 AS BIGINT) AS attempts,
                 0 AS first_round, CAST(doc_id % 5 AS INTEGER) AS last_round
          FROM u
          WHERE doc_id % 3 <> 0
            AND NOT (doc_id % 7 = 0 AND doc_id % 2 = 1)  -- success clears
        ),
        e AS (SELECT url_canon FROM u WHERE doc_id % 2 = 0),
        folded AS (
          SELECT COALESCE(s.url_canon, e.url_canon) AS url_canon,
                 COALESCE(s.attempts, 0)
                   + CASE WHEN e.url_canon IS NOT NULL THEN 1 ELSE 0 END
                   AS attempts,
                 CAST(CASE WHEN e.url_canon IS NOT NULL THEN 6
                      ELSE s.last_round END AS INTEGER) AS last_round
          FROM s FULL OUTER JOIN e ON s.url_canon = e.url_canon
        )
        SELECT url_canon AS url,
               -1.0 - CAST(attempts AS DOUBLE) AS priority,
               attempts
        FROM folded
        WHERE attempts <= 3
          AND CAST(9 - last_round AS DOUBLE) >= POWER(2.0, CAST(attempts - 1 AS DOUBLE))
    """)
def q_retry_schedule(spark, sf_dir):
    """Transient-failure retry pipeline (frontier/retry.py): fold one
    round's errors/successes into the retry state, then emit the URLs
    whose exponential backoff has elapsed.  Covers repeat failure,
    success-clears-row, first failure, untouched state, the 2^(k-1)
    backoff window, and the max-retries cap in one composed query."""
    from .frontier.retry import fold_retry_state, retry_candidates

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://r.example.org/p/"), d.cast("string"))
    state = docs.filter(d % 3 != 0).select(
        url.alias("url_canon"),
        (d % 3).cast("long").alias("attempts"),
        F.lit(0).cast("int").alias("first_round"),
        (d % 5).cast("int").alias("last_round"),
        F.concat(F.lit("e"), d.cast("string")).alias("last_error"),
    )
    errors = docs.filter(d % 2 == 0).select(
        url.alias("url_canon"), F.lit("E6").alias("error")
    )
    successes = docs.filter((d % 7 == 0) & (d % 2 == 1)).select(
        url.alias("url_canon")
    )
    folded = fold_retry_state(state, errors, successes, now_round=6)
    return retry_candidates(folded, now_round=9)


@query("""
        WITH u AS (
          SELECT doc_id, 'h' || (doc_id % 3) || '.example.org' AS host,
                 CASE doc_id % 4
                   WHEN 0 THEN 'https://h' || (doc_id % 3) || '.example.org/item-'
                               || doc_id || '/'
                   WHEN 1 THEN 'https://h' || (doc_id % 3) || '.example.org/cal/2026/'
                               || (doc_id % 12)
                   WHEN 2 THEN 'https://h' || (doc_id % 3) || '.example.org/p?id='
                               || doc_id || '&ref=abc'
                   ELSE 'https://h' || (doc_id % 3) || '.example.org/blob/'
                        || md5(CAST(doc_id AS VARCHAR)) || '/raw'
                 END AS url
          FROM documents
        ),
        t AS (
          SELECT host,
                 host || CASE doc_id % 4
                   WHEN 0 THEN '/item-{n}/'
                   WHEN 1 THEN '/cal/{n}/{n}'
                   WHEN 2 THEN '/p?id={v}&ref={v}'
                   ELSE '/blob/{hex}/raw'
                 END AS template,
                 url
          FROM u
        )
        SELECT host, template, COUNT(*) AS n_urls, MIN(url) AS example_url
        FROM t GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """)
def q_url_templates(spark, sf_dir):
    """URL-template discovery (crawl/dust.py url_templates): URLs
    collapse onto their path shape (digit runs → {n}, long hex → {hex},
    query values → {v}) — the first analytics a rule author or trap
    auditor runs."""
    from .crawl.dust import url_templates

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 3).cast("string"), F.lit(".example.org"))
    url = F.when(
        d % 4 == 0,
        F.concat(F.lit("https://"), host, F.lit("/item-"), d.cast("string"), F.lit("/")),
    ).when(
        d % 4 == 1,
        F.concat(F.lit("https://"), host, F.lit("/cal/2026/"), (d % 12).cast("string")),
    ).when(
        d % 4 == 2,
        F.concat(
            F.lit("https://"), host, F.lit("/p?id="), d.cast("string"), F.lit("&ref=abc")
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"), host, F.lit("/blob/"),
            F.md5(d.cast("string")), F.lit("/raw"),
        )
    )
    return url_templates(docs.select(url.alias("url")))


@query(rf"""
        WITH terms AS (
          SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tf.term,
                 ROUND(CAST(tf AS DOUBLE)
                       * (CAST(n_docs - df AS DOUBLE) + 0.5)
                       / (CAST(df AS DOUBLE) + 0.5), 4) AS score
          FROM tf JOIN dfq ON tf.term = dfq.term, n
        ),
        ranked AS (
          SELECT doc_id, term, score,
                 ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term ASC
                 ) AS rk
          FROM scored
        )
        SELECT doc_id,
               MAX(CASE WHEN rk = 1 THEN score END) AS top_score,
               string_agg(lpad(CAST(rk AS VARCHAR), 2, '0') || ':' || term,
                          '|' ORDER BY lpad(CAST(rk AS VARCHAR), 2, '0') || ':' || term)
                 AS keywords
        FROM ranked WHERE rk <= 3 GROUP BY doc_id
    """)
def q_doc_keywords(spark, sf_dir):
    """TF-IDF keywords per document (textops/quality.py doc_keywords)
    with the rational BM25 idf — explode → two map-side counts →
    broadcast N → rank≤k window."""
    from .textops.quality import doc_keywords

    return doc_keywords(tp(spark, sf_dir, "documents"), k=3)


@query(rf"""
        WITH b AS (
          SELECT doc_id,
                 GREATEST(CAST(len({_TOKS}) AS DOUBLE), 1.0) AS w,
                 GREATEST(CAST(len(regexp_extract_all(lower(text), '[.!?]+'))
                   AS DOUBLE), 1.0) AS s,
                 GREATEST(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS DOUBLE), 1.0) AS sy
          FROM documents
        )
        SELECT doc_id,
               CAST(w AS BIGINT) AS n_words,
               CAST(s AS BIGINT) AS n_sentences,
               CAST(sy AS BIGINT) AS n_syllables,
               ROUND(206.835 - 1.015 * (w / s) - 84.6 * (sy / w), 4) AS flesch,
               CASE WHEN 206.835 - 1.015 * (w / s) - 84.6 * (sy / w) >= 60.0
                      THEN 'easy'
                    WHEN 206.835 - 1.015 * (w / s) - 84.6 * (sy / w) >= 30.0
                      THEN 'medium'
                    ELSE 'hard' END AS band
        FROM b
    """)
def q_readability(spark, sf_dir):
    """Flesch reading-ease (textops/quality.py readability_scores):
    rational arithmetic end-to-end, one scan, zero shuffles."""
    from .textops.quality import readability_scores

    return readability_scores(tp(spark, sf_dir, "documents"))


# ---------------------------------------------------------- corpus assembly
# textops/mix.py + frontier/budget.py — decontamination, reproducible
# sampling, sequence packing, unigram-LM scoring, budget allocation.
# Oracle devices: list_transform n-grams (the ngram_jaccard pattern),
# _hexbyte md5 buckets, exact-integer arithmetic to one final double
# division (the module's cross-engine determinism contract).
@query(rf"""
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN len(tk) >= 4
                      THEN list_distinct(list_transform(range(0, len(tk) - 3),
                           i -> array_to_string(tk[i+1:i+4], ' ')))
                      ELSE CAST([] AS VARCHAR[]) END AS s
          FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
        ),
        ev AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id % 17 = 0),
        dg AS (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id % 17 <> 0),
        per AS (
          SELECT dg.doc_id, COUNT(dg.gram) AS n_grams, COUNT(ev.gram) AS n_hit
          FROM dg LEFT JOIN ev USING (gram) GROUP BY 1
        )
        SELECT doc_id, n_grams, n_hit,
               ROUND(CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE), 4)
                 AS contamination,
               CAST(n_hit > 0 AS INT) AS contaminated
        FROM per
    """)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (textops/mix.py decontaminate): docs
    with doc_id%17==0 stand in for the held-out eval set; every other
    doc is scored by distinct-4-gram overlap against the eval set's
    gram set (broadcast).  The corpus's near-duplicate pairs make the
    overlap non-trivial — a training doc that mirrors an eval doc
    lights up at contamination≈1."""
    from .textops.mix import decontaminate, eval_ngrams

    docs = tp(spark, sf_dir, "documents")
    ev = eval_ngrams(docs.filter(F.col("doc_id") % 17 == 0))
    return decontaminate(docs.filter(F.col("doc_id") % 17 != 0), ev)


@query(rf"""
        WITH b AS (
          SELECT doc_id, lang AS stratum,
                 {_hexbyte("h", 0)} AS bucket,
                 CASE lang WHEN 'en' THEN 128 WHEN 'de' THEN 192
                           WHEN 'fr' THEN 64 WHEN 'es' THEN 32
                           ELSE 16 END AS rate
          FROM (SELECT doc_id, lang,
                       md5('sample:' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents)
        )
        SELECT doc_id, stratum, CAST(bucket AS INT) AS bucket,
               CAST(rate AS INT) AS rate
        FROM b WHERE bucket < rate
    """)
def q_corpus_sample(spark, sf_dir):
    """Reproducible stratified sampling (textops/mix.py
    stratified_sample): per-lang keep rates out of 256 gated on an
    md5-derived bucket of doc_id — same kept set from any engine,
    partitioning or retry (df.sample() guarantees none of these).
    zh exercises the default-rate path."""
    from .textops.mix import stratified_sample

    return stratified_sample(
        tp(spark, sf_dir, "documents"),
        rates={"en": 128, "de": 192, "fr": 64, "es": 32},
        default_rate=16,
    )


@query(rf"""
        WITH d AS (
          SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket,
                 CAST(len({_TOKS}) AS BIGINT) AS n_tokens
          FROM documents
        ),
        o AS (
          SELECT doc_id, bucket, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS tok_offset
          FROM d
        )
        SELECT doc_id, bucket, n_tokens, tok_offset,
               tok_offset // 128 AS seq_first,
               (tok_offset + n_tokens - 1) // 128 AS seq_last
        FROM o
    """)
def q_seq_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing (textops/mix.py
    pack_sequences): each doc's placement (token offset, first/last
    sequence id) in an 8-way-sharded 128-token-sequence training
    stream — per-bucket running-sum window over narrow rows."""
    from .textops.mix import pack_sequences

    return pack_sequences(
        tp(spark, sf_dir, "documents"), seq_len=128, n_buckets=8
    )


@query(rf"""
        WITH c AS (SELECT lang AS s, COUNT(*) AS ns FROM documents GROUP BY 1),
        t AS (SELECT SUM(ns) AS n FROM c),
        d AS (
          SELECT doc_id, lang AS stratum,
                 CAST(t.n * (CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 3
                                       WHEN 'fr' THEN 2 WHEN 'es' THEN 2
                                       ELSE 0 END) AS BIGINT) AS num,
                 CAST(8 * c.ns AS BIGINT) AS den
          FROM documents JOIN c ON documents.lang = c.s, t
        )
        SELECT doc_id, stratum,
               CAST(num // den
                    + CASE WHEN {_hexbyte("md5('epoch:' || CAST(doc_id AS VARCHAR))", 0)}
                                < (num * 256) // den - (num // den) * 256
                           THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        FROM d
    """)
def q_epoch_mix(spark, sf_dir):
    """Training-mix upsampling (textops/mix.py epoch_mix): integer mix
    weights per lang -> per-doc epoch counts hitting the target
    proportions within one doc per stratum; all-integer arithmetic
    (floor + hash-gated fractional epoch), zh excluded via zero
    weight."""
    from .textops.mix import epoch_mix

    return epoch_mix(
        tp(spark, sf_dir, "documents"),
        weights={"en": 1, "de": 3, "fr": 2, "es": 2},
    )


@query(rf"""
        WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        c AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1),
        v AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 16),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        per AS (
          SELECT tk.doc_id, COUNT(*) AS n_tokens,
                 CAST(SUM(COALESCE(v.cnt, 0)) AS BIGINT) AS mass,
                 COUNT(*) FILTER (v.cnt IS NULL) AS n_oov
          FROM tk LEFT JOIN v USING (tok) GROUP BY 1
        )
        SELECT doc_id, n_tokens, n_oov,
               ROUND(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
                 AS oov_frac,
               ROUND(CAST(mass AS DOUBLE) / CAST(n_tokens * total AS DOUBLE), 10)
                 AS avg_tok_prob
        FROM per, tot
    """)
def q_lm_scores(spark, sf_dir):
    """Corpus-unigram LM scoring (textops/mix.py unigram_scores):
    top-16 vocabulary over the corpus, per-doc OOV fraction and mean
    token probability mass — exact integer arithmetic to one final
    double division."""
    from .textops.mix import unigram_scores

    return unigram_scores(tp(spark, sf_dir, "documents"), vocab_size=16)


# DSIR importance weights: same feature chain as linear_scores, bucket
# log-ratio quantized to micro-nats BEFORE the per-doc sum so the only
# float op per bucket is one ln() on an identical exactly-rounded double.
@query(rf"""
    WITH toks AS (
      SELECT doc_id, (doc_id % 5 = 0) AS is_t,
        CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[])
             ELSE string_split({_NORM}, ' ') END AS t
      FROM documents),
    feats AS (
      SELECT doc_id, is_t,
        list_concat(t, list_transform(
          range(greatest(len(t) - 1, 0)),
          i -> t[i + 1] || ' ' || t[i + 2])) AS fs
      FROM toks),
    flat AS (
      SELECT doc_id, is_t,
        (('0x' || substr(md5(unnest(fs)), 1, 8))::BIGINT % 4096) AS b
      FROM feats),
    counts AS (
      SELECT b, count(*) AS r, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc
      FROM flat GROUP BY b),
    tot AS (SELECT sum(r) AS rr, sum(tc) AS tt FROM counts),
    w AS (
      SELECT b,
        CAST(ROUND(LN(
          CAST((tc + 1) * (rr + 4096) AS DOUBLE)
          / CAST((r + 1) * (tt + 4096) AS DOUBLE)
        ) * 1000000.0, 0) AS BIGINT) AS wq
      FROM counts CROSS JOIN tot),
    scored AS (
      SELECT doc_id, count(*) AS n_feats, sum(wq) AS llr_q
      FROM flat JOIN w USING (b) GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(d.doc_id % 5 = 0 AS INT) AS is_target,
      coalesce(s.n_feats, 0) AS n_feats,
      CAST(coalesce(s.llr_q, 0) AS BIGINT) AS llr_q,
      floor(coalesce(s.llr_q, 0) / 100.0 + 0.5) / 10000.0 AS dsir_weight,
      CAST(coalesce(s.llr_q, 0) > 0 AS INT) AS leans_target
    FROM documents d LEFT JOIN scored s USING (doc_id)
""")
def q_dsir_weights(spark, sf_dir):
    """DSIR hashed importance weights (textops/mix.py dsir_weights):
    log p_target/p_raw over hashed unigram+bigram features, bucket
    log-ratios quantized to integer micro-nats so per-doc accumulation
    is an order-independent BIGINT sum.  Target exemplars stand in as
    doc_id%5==0 — the seam where a curated in-domain corpus plugs in."""
    from .textops.mix import dsir_weights

    docs = tp(spark, sf_dir, "documents")
    return dsir_weights(docs, target=(F.col("doc_id") % 5 == 0))


# training order: both hashes are the portable md5 family; pos is a
# plain per-shard rank over the 16-hex order key.
@query(r"""
    WITH s AS (
      SELECT doc_id,
        substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 16) AS order_key,
        CAST(('0x' || substr(md5('order/shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS INT) AS shard
      FROM documents)
    SELECT doc_id, shard,
      CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY order_key) AS BIGINT) AS pos,
      order_key
    FROM s
""")
def q_training_order(spark, sf_dir):
    """Deterministic global training-order shuffle (textops/mix.py
    training_order): hash order key + independent hash shard, pos =
    within-shard rank — the reproducible orderBy(rand()) replacement a
    trainer's loader re-derives from (salt, n_shards) alone."""
    from .textops.mix import training_order

    return training_order(
        tp(spark, sf_dir, "documents").select("doc_id"), n_shards=8
    )


@query(r"""
        WITH log AS (
          SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
                 CAST(doc_id % 10 AS INT) AS q
          FROM documents
        ),
        per AS (
          SELECT host, COUNT(*) AS n_fetches, CAST(SUM(q) AS BIGINT) AS sum_q
          FROM log GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(sum_q) AS BIGINT) AS tq, COUNT(*) AS nh FROM per)
        SELECT host, n_fetches, sum_q,
               ROUND(CAST(sum_q + 8 AS DOUBLE) / CAST(tq + 8 * nh AS DOUBLE), 6)
                 AS share,
               (10000 * (sum_q + 8)) // (tq + 8 * nh) AS alloc
        FROM per, tot
    """)
def q_crawl_budget(spark, sf_dir):
    """Explore/exploit crawl-budget allocation (frontier/budget.py
    allocate_budget): the doc corpus stands in for one round's fetch
    log — host from doc_id%7 (the streaming queries' derivation),
    integer quality score doc_id%10 — folded into per-host
    Laplace-smoothed proportional budget for the next round."""
    from .frontier.budget import allocate_budget

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    log = docs.select(
        F.concat(
            F.lit("h"), (d % 7).cast("string"), F.lit(".example.org")
        ).alias("host"),
        (d % 10).cast("int").alias("q"),
    )
    return allocate_budget(log, total_budget=10000, smooth=8)


@query(r"""
        WITH u AS (
          SELECT 'https://' || h || '/p/' || CAST(doc_id AS VARCHAR) AS url,
                 h AS host
          FROM (SELECT doc_id,
                       CASE doc_id % 5 WHEN 0 THEN 'ok.example.org'
                            WHEN 1 THEN 'ads.tracker.example'
                            WHEN 2 THEN 'deep.sub.tracker.example'
                            WHEN 3 THEN 'x.bad.org'
                            ELSE 'nottracker.example' END AS h
                FROM documents)
        ),
        r AS (SELECT * FROM (VALUES ('tracker.example'), ('bad.org'),
                                    ('sub.tracker.example')) AS t(suf)),
        s AS (
          SELECT url, host,
                 unnest(list_transform(range(0, len(p)),
                        i -> array_to_string(p[i+1:len(p)], '.'))) AS suf
          FROM (SELECT url, host, string_split(host, '.') AS p FROM u)
        ),
        m AS (
          SELECT url,
                 max(lpad(CAST(length(suf) AS VARCHAR), 3, '0') || ':' || suf)
                   AS k
          FROM s JOIN r USING (suf) GROUP BY 1
        )
        SELECT u.url, u.host,
               CAST(m.k IS NOT NULL AS INT) AS blocked,
               substr(m.k, 5) AS matched
        FROM u LEFT JOIN m USING (url)
    """)
def q_host_blocklist(spark, sf_dir):
    """Domain-suffix blocklist filtering (frontier/blocklist.py
    apply_blocklist): label-boundary suffix semantics — blocking
    tracker.example blocks ads.tracker.example and
    deep.sub.tracker.example but NOT nottracker.example (the substring
    trap); longest match wins and is emitted for audit."""
    from .frontier.blocklist import apply_blocklist

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    host = (
        F.when(d % 5 == 0, F.lit("ok.example.org"))
        .when(d % 5 == 1, F.lit("ads.tracker.example"))
        .when(d % 5 == 2, F.lit("deep.sub.tracker.example"))
        .when(d % 5 == 3, F.lit("x.bad.org"))
        .otherwise(F.lit("nottracker.example"))
    )
    urls = docs.select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), d.cast("string")).alias("url"),
        host.alias("host"),
    )
    rules = local_frame(
        spark,
        [("tracker.example",), ("bad.org",), ("sub.tracker.example",)],
        "domain string",
    )
    return apply_blocklist(urls, rules)


@query(r"""
        WITH m AS (
          SELECT doc_id,
                 text || CASE doc_id % 4
                           WHEN 1 THEN ' кот система мир дом слово'
                           WHEN 2 THEN ' 猫狗鸟鱼虫木火水土金'
                           WHEN 3 THEN ' مرحبا بالعالم كلمة'
                           ELSE '' END AS t
          FROM documents
        ),
        c AS (
          SELECT doc_id, length(t) AS n,
                 length(t) - length(regexp_replace(t, '[\p{Latin}]', '', 'g')) AS latin,
                 length(t) - length(regexp_replace(t, '[\p{Cyrillic}]', '', 'g')) AS cyrillic,
                 length(t) - length(regexp_replace(t, '[\p{Han}]', '', 'g')) AS han,
                 length(t) - length(regexp_replace(t, '[\p{Arabic}]', '', 'g')) AS arabic
          FROM m
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_chars,
               CAST(latin AS BIGINT) AS latin,
               CAST(cyrillic AS BIGINT) AS cyrillic,
               CAST(han AS BIGINT) AS han,
               CAST(arabic AS BIGINT) AS arabic,
               CAST(n - latin - cyrillic - han - arabic AS BIGINT) AS other,
               CASE WHEN latin >= cyrillic AND latin >= han AND latin >= arabic AND latin > 0 THEN 'latin'
                    WHEN cyrillic >= han AND cyrillic >= arabic AND cyrillic > 0 THEN 'cyrillic'
                    WHEN han >= arabic AND han > 0 THEN 'han'
                    WHEN arabic > 0 THEN 'arabic'
                    ELSE 'other' END AS main_script
        FROM c
    """)
def q_script_profile(spark, sf_dir):
    """Unicode-script character profile (textops/quality.py
    script_profile): per-doc Latin/Cyrillic/Han/Arabic/other counts and
    the dominant script — the pre-langid routing signal for a
    multilingual crawl.  Synthesis appends deterministic non-Latin
    suffixes (Cyrillic/Han/Arabic by d%4) so every script class and the
    tie-break order are exercised."""
    from .textops.quality import script_profile

    docs = tp(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    suffix = (
        F.when(d % 4 == 1, F.lit(" \u043a\u043e\u0442 \u0441\u0438\u0441\u0442\u0435\u043c\u0430 \u043c\u0438\u0440 \u0434\u043e\u043c \u0441\u043b\u043e\u0432\u043e"))
        .when(d % 4 == 2, F.lit(" \u732b\u72d7\u9e1f\u9c7c\u866b\u6728\u706b\u6c34\u571f\u91d1"))
        .when(d % 4 == 3, F.lit(" \u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627\u0644\u0645 \u0643\u0644\u0645\u0629"))
        .otherwise(F.lit(""))
    )
    mixed = docs.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))
    return script_profile(mixed)


@query(rf"""
        WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
        b AS (
          SELECT doc_id, tk, len(tk) AS n,
                 list_filter(range(1, len(tk) + 1),
                             i -> substr(md5(tk[i]), 1, 1) = '0') AS bpos
          FROM d WHERE len(tk) >= 1
        ),
        sp AS (
          SELECT doc_id, tk,
                 list_filter(
                   list_transform(
                     range(0, len(bpos) + 1),
                     j -> {{'s': CASE WHEN j = 0 THEN 1 ELSE bpos[j] + 1 END,
                           'e': CASE WHEN j = len(bpos) THEN n ELSE bpos[j + 1] END}}),
                   p -> p.s <= p.e) AS kept
          FROM b
        ),
        ch AS (
          SELECT doc_id,
                 unnest(range(0, len(kept))) AS chunk_idx,
                 unnest(list_transform(range(0, len(kept)), j -> kept[j + 1].s)) AS s,
                 unnest(list_transform(range(0, len(kept)), j -> kept[j + 1].e)) AS e,
                 tk
          FROM sp
        ),
        f AS (
          SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                 CAST(s AS INT) AS start_tok,
                 CAST(e - s + 1 AS INT) AS n_tok,
                 substr(md5(array_to_string(tk[s:e], ' ')), 1, 16) AS fp
          FROM ch
        ),
        n AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY 1)
        SELECT doc_id, chunk_idx, start_tok, n_tok, n_copies
        FROM f JOIN n USING (fp) WHERE n_copies >= 2
    """)
def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (textops/dedup.py cdc_chunks):
    chunk boundaries are md5-gated TOKENS (p=1/16), so the chunking
    re-synchronizes after local edits and shifted copies still match —
    the insertion-robust twin of dup_spans.  Pure array expressions;
    both shuffles carry 16-byte fingerprints."""
    from .textops.dedup import cdc_chunks

    return cdc_chunks(tp(spark, sf_dir, "documents"))


@query(rf"""
        WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
        c AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, len(tk) // 16),
                        i -> array_to_string(tk[i*16+1:i*16+16], ' '))) AS chunk,
                 unnest(range(0, len(tk) // 16)) AS chunk_idx
          FROM d WHERE len(tk) >= 16
        ),
        f AS (
          SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                 CAST(chunk_idx * 16 AS INT) AS start_tok,
                 substr(md5(chunk), 1, 16) AS fp
          FROM c
        ),
        n AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY 1)
        SELECT doc_id, chunk_idx, start_tok, n_copies
        FROM f JOIN n USING (fp) WHERE n_copies >= 2
    """)
def q_dup_spans(spark, sf_dir):
    """Token-window duplicate-span detection (textops/dedup.py
    dup_spans): disjoint 16-token chunks fingerprinted and flagged when
    the exact chunk recurs anywhere in the corpus — the substring-level
    dedup the doc-level and paragraph-level ops both miss."""
    from .textops.dedup import dup_spans

    return dup_spans(tp(spark, sf_dir, "documents"), k=16)


@query(rf"""
        WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
        c AS (
          SELECT doc_id, len(tk) // 16 AS nc,
                 array_to_string(tk[(len(tk) // 16) * 16 + 1 :], ' ') AS tail,
                 tk
          FROM d
        ),
        ch AS (
          SELECT doc_id, unnest(range(0, nc)) AS idx,
                 unnest(list_transform(range(0, nc),
                        i -> array_to_string(tk[i*16+1:i*16+16], ' '))) AS chunk
          FROM c
        ),
        f AS (SELECT doc_id, idx, chunk, substr(md5(chunk), 1, 16) AS fp FROM ch),
        n AS (SELECT fp, COUNT(*) AS ncop FROM f GROUP BY 1 HAVING COUNT(*) >= 2),
        r AS (
          SELECT f.doc_id, f.idx, f.chunk, n.ncop,
                 ROW_NUMBER() OVER (PARTITION BY f.fp ORDER BY f.doc_id, f.idx)
                   AS rn
          FROM f LEFT JOIN n USING (fp)
        ),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_chunks,
                 CAST(SUM(CASE WHEN ncop IS NOT NULL AND rn > 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                 COALESCE(string_agg(
                     CASE WHEN ncop IS NULL OR rn = 1 THEN chunk END,
                     ' ' ORDER BY idx), '') AS body
          FROM r GROUP BY 1
        )
        SELECT c.doc_id,
               CAST(COALESCE(a.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(a.n_dropped, 0) AS BIGINT) AS n_dropped,
               COALESCE(array_to_string(
                 list_filter([COALESCE(a.body, ''), COALESCE(c.tail, '')],
                             x -> x <> ''), ' '), '')
                 AS clean_text
        FROM c LEFT JOIN agg a USING (doc_id)
    """)
def q_strip_spans(spark, sf_dir):
    """Substring-dedup ACTION (textops/dedup.py strip_dup_spans):
    corpus-duplicated 16-token chunks removed keep-first (the first
    (doc_id, chunk_idx) occurrence stays canonical), sub-chunk tails
    always kept, text rebuilt.  The oracle re-derives chunking,
    election and rebuild in SQL."""
    from .textops.dedup import strip_dup_spans

    return strip_dup_spans(tp(spark, sf_dir, "documents"), k=16)


@query(r"""
        SELECT 'https://m.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
               CAST(CASE WHEN doc_id % 5 IN (1, 3, 4) THEN 1 ELSE 0 END AS INT)
                 AS noindex,
               CAST(CASE WHEN doc_id % 5 IN (2, 3) THEN 1 ELSE 0 END AS INT)
                 AS nofollow,
               CAST(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS INT)
                 AS noarchive
        FROM documents
    """)
def q_page_directives(spark, sf_dir):
    """Page-level robots directives (frontier/robots.py
    page_directives): <meta name=robots> parsed with the engine's own
    DOM (case/attr-order/spacing variants), X-Robots-Tag header merged,
    `none` aliased per spec; a decoy description meta on every page
    must not trip the flags.  Oracle re-predicts all five synthesis
    regimes field-by-field."""
    from .frontier.robots import page_directives

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://m.example.org/p/"), d.cast("string"))
    meta = (
        F.when(d % 5 == 1, F.lit('<meta name="robots" content="noindex">'))
        .when(d % 5 == 2, F.lit('<meta content="NOFOLLOW , noarchive" name="ROBOTS">'))
        .when(d % 5 == 3, F.lit('<meta name="robots" content="none">'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit('<html><head><meta name="description" content="nofollow">'),
        meta,
        F.lit("</head><body>p"),
        d.cast("string"),
        F.lit("</body></html>"),
    )
    header = F.when(d % 5 == 4, F.lit("noindex")).otherwise(
        F.lit(None).cast("string")
    )
    pages = docs.select(
        url.alias("url"), html.alias("html"), header.alias("xrt")
    )
    return page_directives(pages, header_col="xrt")


@query(rf"""
        WITH base AS (
          SELECT doc_id, text, lang,
                 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host
          FROM documents
        ),
        surv1 AS (SELECT * FROM base WHERE host <> 'h3.example.org'),
        g AS (
          SELECT doc_id,
                 CASE WHEN len(tk) >= 4
                      THEN list_distinct(list_transform(range(0, len(tk) - 3),
                           i -> array_to_string(tk[i+1:i+4], ' ')))
                      ELSE CAST([] AS VARCHAR[]) END AS s
          FROM (SELECT doc_id, {_TOKS} AS tk FROM surv1)
        ),
        ev AS (SELECT DISTINCT unnest(s) AS gram FROM g WHERE doc_id % 17 = 0),
        hits AS (
          SELECT DISTINCT dg.doc_id
          FROM (SELECT doc_id, unnest(s) AS gram FROM g WHERE doc_id % 17 <> 0) dg
          JOIN ev USING (gram)
        ),
        surv2 AS (
          SELECT s.* FROM surv1 s LEFT JOIN hits h USING (doc_id)
          WHERE s.doc_id % 17 <> 0 AND h.doc_id IS NULL
        ),
        surv3 AS (
          SELECT * FROM (
            SELECT doc_id, text,
                   {_hexbyte("md5('sample:' || CAST(doc_id AS VARCHAR))", 0)}
                     AS bucket256,
                   CASE lang WHEN 'en' THEN 192 WHEN 'de' THEN 128
                             WHEN 'fr' THEN 128 WHEN 'es' THEN 64
                             ELSE 96 END AS rate
            FROM surv2)
          WHERE bucket256 < rate
        ),
        sized AS (
          SELECT doc_id, CAST(doc_id % 4 AS INT) AS bucket,
                 CAST(len({_TOKS}) AS BIGINT) AS n_tokens
          FROM surv3
        ),
        placed AS (
          SELECT doc_id, bucket, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS tok_offset
          FROM sized
        )
        SELECT doc_id, bucket, n_tokens, tok_offset,
               tok_offset // 128 AS seq_first,
               (tok_offset + n_tokens - 1) // 128 AS seq_last
        FROM placed
    """)
def q_corpus_pipeline(spark, sf_dir):
    """The corpus-build layers composed END-TO-END in one lazy plan:
    domain blocklist (drop host h3) -> benchmark decontamination (drop
    eval docs and 4-gram-contaminated docs) -> hash-gated stratified
    sampling (per-lang rates) -> sequence packing of the survivors.
    One Catalyst plan, no materialization between stages — the
    integration evidence that the assembly operators compose.  The
    oracle re-predicts every stage in one CTE chain.

    Composition shape (the scale lesson this query exists to show):
    every stage's VERDICT reduces to a small set — blocked urls,
    contaminated ids — that anti-joins the stream as a broadcast, so
    re-referencing a stage never duplicates a wide subtree; and the
    sample gate is a pure per-row predicate that commutes with every
    join, so it runs FIRST and prunes the expensive stages (a 100 TB
    run does exactly this: cheap deterministic filters before
    corpus-wide joins; in production the stage boundaries would also
    be persisted Iceberg tables)."""
    from .frontier.blocklist import apply_blocklist
    from .textops.mix import (
        decontaminate,
        eval_ngrams,
        pack_sequences,
        sample_gate,
    )

    docs = tp(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example.org"))
    url = F.concat(F.lit("https://"), host, F.lit("/d/"), d.cast("string"))
    base = docs.select("doc_id", "text", "lang", host.alias("host"), url.alias("url"))

    # stage 1: blocklist (label-suffix semantics; h3 is the listed
    # host) — blocked urls are a small set: broadcast anti-join.
    # Each stage VERDICT is localCheckpoint'd (lazy): Spark does NOT
    # dedupe identical subtrees across broadcast exchanges, so without
    # the checkpoint the blocked-set subplan executes once per
    # downstream broadcast that transitively contains it (3x) and the
    # eval-gram subplan twice (24 s -> 20 s at sf0.1; the remaining
    # wall is fixed per-stage job overhead at toy scale — the four
    # stages profile to ~15 s run back-to-back as separate actions).
    # The checkpoint is the in-session analog of the production
    # pattern (stage verdicts persisted as Iceberg tables between
    # phases), and its value grows with the duplicated subtree: at
    # corpus scale the un-checkpointed form re-scans the corpus per
    # broadcast.
    rules = local_frame(spark, [("h3.example.org",)], "domain string")
    blocked = (
        apply_blocklist(base, rules)
        .filter(F.col("blocked") == 1)
        .select("url")
        .localCheckpoint(eager=False)
    )
    surv1 = base.join(F.broadcast(blocked), "url", "left_anti")

    # stage 3 FIRST (commutes — see docstring): eval exclusion and the
    # per-lang sample gate are pure filters, pruning before the joins
    gate = sample_gate(
        rates={"en": 192, "de": 128, "fr": 128, "es": 64}, default_rate=96
    )
    train = surv1.filter((d % 17 != 0) & gate)

    # stage 2: decontamination (eval grams from ALL blocklist-surviving
    # eval docs; contaminated ids are a small set: broadcast anti-join)
    ev = eval_ngrams(surv1.filter(d % 17 == 0)).localCheckpoint(eager=False)
    hits = (
        decontaminate(train, ev)
        .filter(F.col("contaminated") == 1)
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    surv2 = train.join(F.broadcast(hits), "doc_id", "left_anti")

    # stage 4: pack the final corpus into training sequences
    return pack_sequences(surv2, seq_len=128, n_buckets=4)


@query(rf"""
        SELECT substr(md5({_NORM}), 1, 16) AS content_fp,
               COUNT(*) AS n_docs,
               MIN(doc_id) AS keep_id
        FROM documents GROUP BY 1
    """)
def q_dedup_exact(spark, sf_dir):
    return exact_dup_groups(tp(spark, sf_dir, "documents"))


@query(f"""
        WITH {_LSH_CTES}
        SELECT id1, id2 FROM cand
    """)
def q_minhash_lsh_pairs(spark, sf_dir):
    return lsh_candidate_pairs(tp(spark, sf_dir, "documents"))


_VERIFIED_PAIRS_SQL = f"""
        WITH {_LSH_CTES},
        d AS (SELECT doc_id, list_distinct(s) AS sd FROM sh)
        SELECT id1, id2, ROUND(inter / (la + lb - inter), 4) AS jaccard FROM (
          SELECT id1, id2,
                 CAST(len(list_filter(x.sd, e -> list_contains(y.sd, e))) AS DOUBLE) AS inter,
                 CAST(len(x.sd) AS DOUBLE) AS la, CAST(len(y.sd) AS DOUBLE) AS lb
          FROM cand JOIN d x ON x.doc_id = id1 JOIN d y ON y.doc_id = id2
        )
    """


@query(_VERIFIED_PAIRS_SQL)
def q_dedup_verified_pairs(spark, sf_dir):
    """LSH candidates → exact Jaccard verification (the composed
    production near-dup pipeline; quadratic work bounded by LSH)."""
    return verified_near_dups(tp(spark, sf_dir, "documents"), threshold=0.0)


# The production-hash twins are value-paired on the recall set (exact
# Jaccard >= 0.5): sub-threshold band collisions are hash-family
# specific (DuckDB has no Spark-compatible xxhash64), but every true
# near-dup pair must be recovered by BOTH families, so the md5 twin's
# oracle filtered at the threshold predicts the xx output exactly.
@query("SELECT id1, id2 FROM (" + _VERIFIED_PAIRS_SQL + ") WHERE jaccard >= 0.5")
def q_minhash_lsh_pairs_xx(spark, sf_dir):
    """PRODUCTION hash variant of minhash_lsh_pairs: native xxhash64
    inside whole-stage codegen (explode → map-side-combined groupBy →
    band keys over the per-seed min columns).  Value-paired against the
    md5 oracle on the RECALL SET — xxhash64 candidates that survive
    exact-Jaccard verification at θ=0.5.  Raw sub-threshold band
    collisions are hash-family-specific by construction (DuckDB has no
    Spark-compatible xxhash64), so the oracle-checkable surface is
    exactly the pairs both families must recover: the corpus is bimodal
    (true near-dups ≥0.9, collisions ≤0.06), so a green row proves the
    production banding loses no true pair.  The raw candidate plan is
    pinned by tests/test_textops.py pair-set parity + no-Python-eval
    plan checks."""
    return verified_near_dups(
        tp(spark, sf_dir, "documents"), threshold=0.5, impl="xxhash64"
    ).select("id1", "id2")


@query("SELECT id1, id2, jaccard FROM (" + _VERIFIED_PAIRS_SQL + ") WHERE jaccard >= 0.5")
def q_dedup_verified_pairs_xx(spark, sf_dir):
    """xxhash64 candidates → hash-free exact-Jaccard verify at the
    production threshold (θ=0.5): the full near-dup pipeline on the
    all-codegen path, value-paired — emitted (id1, id2, jaccard) must
    equal the md5 twin's above-threshold set exactly (see
    q_minhash_lsh_pairs_xx for why sub-threshold collisions can't be
    cross-engine-paired)."""
    return verified_near_dups(
        tp(spark, sf_dir, "documents"), threshold=0.5, impl="xxhash64"
    )


@query(rf"""
        WITH s AS (
          SELECT doc_id,
            CAST(list_sum(list_transform(range(1, 17),
              j -> CASE WHEN list_sum(list_transform({_TOKS},
                          t -> ((ascii(substr(md5(t), j, 1)) % 2) * 2 - 1))) >= 0
                        THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
          FROM documents WHERE len({_TOKS}) > 0
        )
        SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        FROM s GROUP BY 1
    """)
def q_simhash_groups(spark, sf_dir):
    return simhash_groups(tp(spark, sf_dir, "documents"))


@query(rf"""
        WITH s AS (
          SELECT doc_id,
            CAST(list_sum(list_transform(range(1, 17),
              j -> CASE WHEN list_sum(list_transform({_TOKS},
                          t -> ((ascii(substr(md5(t), j, 1)) % 2) * 2 - 1))) >= 0
                        THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
          FROM documents WHERE len({_TOKS}) > 0
        ),
        g AS (SELECT simhash, COUNT(*) AS n_docs FROM s GROUP BY 1)
        SELECT a.simhash AS h1, b.simhash AS h2,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming,
               a.n_docs AS n_docs1, b.n_docs AS n_docs2
        FROM g a JOIN g b ON a.simhash < b.simhash
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """)
def q_simhash_hamming_pairs(spark, sf_dir):
    """Pigeonhole-banded hamming join over distinct SimHash values:
    pairs within hamming distance 2 via 3 segment equi-joins + exact
    bit_count(xor) verify — the near-dup primitive simhash_groups'
    exact-equality buckets can't express."""
    from .textops.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(tp(spark, sf_dir, "documents"))


@query(rf"""
        WITH d AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(0, len(tk) - 1),
                               i -> array_to_string(tk[i+1:i+2], ' '))) AS s
          FROM (SELECT doc_id, {_TOKS} AS tk FROM documents WHERE doc_id < 200)
          WHERE len(tk) >= 2
        ),
        p AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
                 CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE) AS inter,
                 CAST(len(a.s) AS DOUBLE) AS la, CAST(len(b.s) AS DOUBLE) AS lb
          FROM d a JOIN d b ON a.doc_id < b.doc_id
        )
        SELECT id1, id2, ROUND(inter / (la + lb - inter), 4) AS jaccard
        FROM p WHERE ROUND(inter / (la + lb - inter), 4) >= 0.2
    """)
def q_ngram_jaccard_pairs(spark, sf_dir):
    return ngram_jaccard_pairs(
        tp(spark, sf_dir, "documents"), threshold=0.2, max_id=200
    )


# --------------------------------------------------------------- similarity
@query("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        c AS (
          SELECT qid, vec_id,
                 ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))), 6) AS sim
          FROM e, q WHERE vec_id <> qid
        )
        SELECT qid, vec_id, sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
          FROM c
        ) WHERE rn <= 5
    """)
def q_cosine_topk(spark, sf_dir):
    return cosine_topk(tp(spark, sf_dir, "embeddings"), n_queries=8, k=5)


# int8 quantization audit: every fold mirrors the similarity family's
# sequential left-fold; round() agrees across engines on away-from-zero
# halves, and the all-zero-vector branch pins cos_q = 1.
@query(r"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    s AS (
      SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
      FROM e),
    d AS (
      SELECT vec_id, v, sc,
        CASE WHEN sc = 0 THEN v
             ELSE list_transform(v, x -> ROUND(x / sc, 0) * sc) END AS dq
      FROM s),
    r AS (
      SELECT vec_id, v, sc, dq,
        list_transform(range(1, len(v) + 1), i -> v[i] - dq[i]) AS err
      FROM d)
    SELECT vec_id,
      CAST(len(v) AS INT) AS n_dims,
      ROUND(sc, 10) AS scale,
      ROUND(list_max(list_transform(err, x -> abs(x))), 8) AS max_abs_err,
      ROUND(list_sum(list_transform(err, x -> x * x)) / len(v), 10) AS mse,
      CASE WHEN sc = 0 THEN 1.0 ELSE
        ROUND(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * dq[i]))
          / (sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i])))
           * sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> dq[i] * dq[i])))), 6)
      END AS cos_q
    FROM r
""")
def q_quantize_audit(spark, sf_dir):
    """Int8 symmetric-absmax quantization audit (textops/similarity.py
    quantize_audit): per-vector scale, reconstruction error and
    original-vs-dequantized cosine — the fidelity gate before an ANN
    index swaps float32 for int8.  Pure per-row projection."""
    from .textops.similarity import quantize_audit

    return quantize_audit(tp(spark, sf_dir, "embeddings"))


@query("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < 300
        ),
        p AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
                 ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6) AS sim
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT id1, id2, sim FROM p WHERE sim >= 0.35
    """)
def q_embedding_dup_pairs(spark, sf_dir):
    return embedding_dup_pairs(tp(spark, sf_dir, "embeddings"))


@query("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        b AS (
          SELECT vec_id, v,
            CAST(list_sum(list_transform(range(1, 7), p ->
              CASE WHEN list_sum(list_transform(range(1, 65), d ->
                     v[d] * ((ascii(substr(md5(p || ':' || d), 1, 1)) % 2) * 2 - 1))) >= 0
                   THEN CAST(power(2, p - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
          FROM e
        ),
        q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 8),
        c AS (
          SELECT qid, b.vec_id,
                 ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))), 6) AS sim
          FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.qid
        )
        SELECT qid, vec_id, sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
          FROM c
        ) WHERE rn <= 5
    """)
def q_ann_lsh_topk(spark, sf_dir):
    return rhp_lsh_topk(
        tp(spark, sf_dir, "embeddings"), n_queries=8, k=5, n_planes=6, dims=64
    )


@query("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        b AS (
          SELECT vec_id, v, j.tbl AS tbl,
            CAST(list_sum(list_transform(range(1, 7), p ->
              CASE WHEN list_sum(list_transform(range(1, 65), d ->
                     v[d] * ((ascii(substr(md5(j.tbl || ':' || p || ':' || d), 1, 1)) % 2) * 2 - 1))) >= 0
                   THEN CAST(power(2, p - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
          FROM e, (SELECT unnest(range(0, 3)) AS tbl) j
        ),
        q AS (SELECT vec_id AS qid, v AS qv, tbl, bucket FROM b WHERE vec_id < 8),
        c AS (
          SELECT DISTINCT qid, b.vec_id,
                 ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))), 6) AS sim
          FROM b JOIN q USING (tbl, bucket) WHERE b.vec_id <> q.qid
        )
        SELECT qid, vec_id, sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
          FROM c
        ) WHERE rn <= 5
    """)
def q_ann_multiprobe_topk(spark, sf_dir):
    """OR'd-table ANN: union of 3 independent hash tables' buckets as
    the candidate set — the recall-at-scale variant of ann_lsh_topk."""
    return rhp_multiprobe_topk(
        tp(spark, sf_dir, "embeddings"),
        n_queries=8, k=5, n_planes=6, dims=64,
    )


@query("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
        sim_ac AS (
          SELECT e.vec_id, e.v, cents.cell,
                 ROUND(list_sum(list_transform(range(1, 65), i -> cv[i] * v[i]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))), 6) AS csim
          FROM e, cents
        ),
        asn AS (
          SELECT vec_id, v, cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
            FROM sim_ac
          ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
        sim_qc AS (
          SELECT qid, qv, cell,
                 ROUND(list_sum(list_transform(range(1, 65), i -> cv[i] * qv[i]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))), 6) AS psim
          FROM q, cents
        ),
        probes AS (
          SELECT qid, qv, cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY psim DESC, cell) AS rn
            FROM sim_qc
          ) WHERE rn <= 4
        ),
        c AS (
          SELECT p.qid, a.vec_id,
                 ROUND(list_sum(list_transform(range(1, 65), i -> p.qv[i] * a.v[i]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> p.qv[i] * p.qv[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))), 6) AS sim
          FROM asn a JOIN probes p ON a.cell = p.cell
          WHERE a.vec_id <> p.qid
        )
        SELECT qid, vec_id, sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
          FROM c
        ) WHERE rn <= 5
    """)
def q_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (textops/similarity.py ivf_topk): corpus vectors
    inverted-file-indexed by nearest deterministic centroid; each query
    probes its 4 nearest of 16 cells and exact-reranks only there.  At
    scale the cell index is a materialized table PARTITIONED BY cell —
    probing = partition pruning; embeddings never shuffle."""
    from .textops.similarity import ivf_topk

    return ivf_topk(
        tp(spark, sf_dir, "embeddings"),
        n_cells=16, nprobe=4, n_queries=8, k=5,
    )


@query("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        b AS (
          SELECT vec_id, j.tbl AS tbl,
            CAST(list_sum(list_transform(range(1, 11), p ->
              CASE WHEN list_sum(list_transform(range(1, 65), d ->
                     v[d] * ((ascii(substr(md5(j.tbl || ':' || p || ':' || d), 1, 1)) % 2) * 2 - 1))) >= 0
                   THEN CAST(power(2, p - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
          FROM e, (SELECT unnest(range(0, 2)) AS tbl) j
        ),
        cand AS (
          SELECT a.vec_id AS id1, c.vec_id AS id2
          FROM b a JOIN b c USING (tbl, bucket)
          WHERE a.vec_id < c.vec_id GROUP BY 1, 2
        ),
        p AS (
          SELECT id1, id2,
            ROUND(list_sum(list_transform(range(1, 65), i -> x.v[i] * y.v[i]))
                  / (sqrt(list_sum(list_transform(range(1, 65), i -> x.v[i] * x.v[i])))
                   * sqrt(list_sum(list_transform(range(1, 65), i -> y.v[i] * y.v[i])))), 6) AS sim
          FROM cand JOIN e x ON x.vec_id = id1 JOIN e y ON y.vec_id = id2
        )
        SELECT id1, id2, sim FROM p WHERE sim >= 0.35
    """)
def q_embedding_verified_pairs(spark, sf_dir):
    """RHP-LSH candidates → exact cosine verification — the embedding
    mirror of dedup_verified_pairs (quadratic work LSH-bounded, vectors
    fetched for candidate ids only)."""
    return embedding_verified_pairs(
        tp(spark, sf_dir, "embeddings"),
        threshold=0.35, n_planes=10, dims=64,
    )


# --------------------------------------------------------------- multimodal
@query("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
        c AS (
          SELECT vec_id, centroid_id,
                 ROUND(list_sum(list_transform(range(1, 65), i -> cv[i] * v[i]))
                       / (sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))
                        * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))), 6) AS sim
          FROM e, cents
        )
        SELECT vec_id, centroid_id, sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM c
        ) WHERE rn = 1
    """)
def q_embedding_clusters(spark, sf_dir):
    """Nearest-centroid assignment (textops/similarity.py
    centroid_assign): spherical k-means E-step with a deterministic
    id<k init — corpus diversity bucketing over the embeddings table;
    centroids broadcast, no wide shuffle of vectors."""
    from .textops.similarity import centroid_assign

    return centroid_assign(tp(spark, sf_dir, "embeddings"), k=8)


@query(f"""
        WITH m AS (
          SELECT doc_id AS media_id,
                 (['image','audio','video'])[(doc_id % 3) + 1] AS media_type,
                 md5(text) AS h,
                 octet_length(encode(text)) AS n_bytes
          FROM documents
        )
        SELECT media_id, media_type,
               CAST(n_bytes AS BIGINT) AS n_bytes,
               substr(h, 1, 16) AS content_hash,
               CASE WHEN media_type IN ('image','video')
                    THEN CAST(64 + {_hexbyte('h', 0)} % 192 AS INTEGER) END AS width,
               CASE WHEN media_type IN ('image','video')
                    THEN CAST(64 + {_hexbyte('h', 1)} % 192 AS INTEGER) END AS height,
               CASE WHEN media_type = 'video'
                    THEN CAST(1 + {_hexbyte('h', 2)} % 16 AS INTEGER) END AS n_frames
        FROM m
    """)
def q_multimodal_features(spark, sf_dir):
    media = docs_as_media(tp(spark, sf_dir, "documents"))
    return decode_media(media, mode="fake")


# real header decode over synthesized valid containers: the oracle
# predicts what the struct/zlib/wave parsers must recover from bytes
@query("""
        SELECT doc_id AS media_id,
               CASE doc_id % 10 WHEN 1 THEN 'video'
                                WHEN 3 THEN 'audio'
                                WHEN 6 THEN 'audio'
                                WHEN 7 THEN 'audio'
                                ELSE 'image' END AS media_type,
               (['png','gif','jpeg','wav','bmp','tiff','mp3','flac','ico',
                 'webp'])
                 [(doc_id % 10) + 1] AS fmt,
               CASE WHEN doc_id % 10 NOT IN (3, 6, 7)
                    THEN CAST(16 + doc_id % 240 AS INTEGER) END AS width,
               CASE WHEN doc_id % 10 NOT IN (3, 6, 7)
                    THEN CAST(16 + (7 * doc_id) % 240 AS INTEGER) END AS height,
               CASE WHEN doc_id % 10 = 1 THEN CAST(1 + (doc_id // 4) % 4 AS INTEGER)
                    WHEN doc_id % 10 IN (0, 2, 4, 5, 8, 9) THEN CAST(1 AS INTEGER)
                    WHEN doc_id % 10 = 6 THEN CAST(10 + doc_id % 20 AS INTEGER)
                    END AS n_frames,
               CASE WHEN doc_id % 10 IN (3, 7)
                    THEN CAST(1000 + doc_id % 1000 AS BIGINT)
                    WHEN doc_id % 10 = 6
                    THEN CAST((10 + doc_id % 20) * 1152 * 1000 // 44100 AS BIGINT)
                    END AS duration_ms
        FROM documents
    """)
def q_media_dims(spark, sf_dir):
    """REAL stdlib container decode: synthesize valid PNG/GIF/JPEG/WAV/
    BMP/TIFF/MP3/FLAC/ICO/WEBP binaries (dims derived from doc_id) and
    recover width/height/frames/duration by parsing the actual bytes
    (struct/zlib/wave) — the codec-seam closure for formats the stdlib
    can carry."""
    from .textops.multimodal import synth_media

    # project to the 8-byte id BEFORE tp's parallelism repartition:
    # synthesis only reads the id, so the spread shuffle carries ~40 KB
    # instead of the full text column, and the fat synth+decode Python
    # stages still run on every core.
    n = spark.sparkContext.defaultParallelism
    docs = t(spark, sf_dir, "documents").select("doc_id").repartition(n)
    media = synth_media(docs)
    return decode_media(media, mode="header").select(
        "media_id", "media_type", "fmt", "width", "height", "n_frames", "duration_ms"
    )


@query(
    _GRAPH_SQL
    + r"""
        , sd AS (SELECT doc_id AS node FROM documents WHERE doc_id % 97 = 0)
        , ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM sd)
        , base AS (SELECT d.doc_id AS node,
                     CASE WHEN s.node IS NULL THEN 0.0 ELSE 1.0 / ns.k END AS d
                   FROM documents d LEFT JOIN sd s ON d.doc_id = s.node, ns)
        , deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
        , c1 AS (SELECT e.dst AS node, sum(t.d / g.outdeg) AS c
                 FROM edges e JOIN base t ON e.src = t.node
                              JOIN deg g ON e.src = g.src
                 GROUP BY e.dst)
        , t1 AS (SELECT b.node,
                   (1 - CAST(0.85 AS DOUBLE)) * b.d
                   + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS trust
                 FROM base b LEFT JOIN c1 c ON b.node = c.node)
        , c2 AS (SELECT e.dst AS node, sum(t.trust / g.outdeg) AS c
                 FROM edges e JOIN t1 t ON e.src = t.node
                              JOIN deg g ON e.src = g.src
                 GROUP BY e.dst)
        , t2 AS (SELECT b.node,
                   (1 - CAST(0.85 AS DOUBLE)) * b.d
                   + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS trust
                 FROM base b LEFT JOIN c2 c ON b.node = c.node)
        , c3 AS (SELECT e.dst AS node, sum(t.trust / g.outdeg) AS c
                 FROM edges e JOIN t2 t ON e.src = t.node
                              JOIN deg g ON e.src = g.src
                 GROUP BY e.dst)
        , t3 AS (SELECT b.node,
                   (1 - CAST(0.85 AS DOUBLE)) * b.d
                   + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS trust
                 FROM base b LEFT JOIN c3 c ON b.node = c.node)
        SELECT node, ROUND(trust, 8) AS trust FROM t3
    """
)
def q_trustrank(spark, sf_dir):
    """TrustRank (graph.py trustrank): personalized PageRank whose
    teleport mass returns only to a trusted seed set (docs with
    id % 97 == 0) — the web-spam demotion signal; 3 unrolled
    iterations so the DuckDB twin computes the identical closed
    form."""
    from .graph import trustrank

    edges, nodes, _n = _graph_inputs(spark, sf_dir)
    seeds = nodes.filter(F.col("node") % 97 == 0)
    return trustrank(edges, nodes, seeds)


@query(rf"""
        WITH fp AS (
          SELECT doc_id, substr(md5({_NORM}), 1, 16) AS content_fp
          FROM documents),
        prior AS (
          SELECT DISTINCT content_fp FROM fp WHERE doc_id % 3 = 0),
        keep AS (
          SELECT content_fp, min(doc_id) AS k FROM fp GROUP BY content_fp)
        SELECT f.doc_id, f.content_fp,
          CASE WHEN p.content_fp IS NULL AND f.doc_id = k.k
               THEN 1 ELSE 0 END AS admitted,
          CASE WHEN p.content_fp IS NOT NULL THEN 'dup_corpus'
               WHEN f.doc_id <> k.k THEN 'dup_batch'
               ELSE 'new' END AS reason
        FROM fp f
        JOIN keep k USING (content_fp)
        LEFT JOIN prior p USING (content_fp)
    """)
def q_dedup_incremental(spark, sf_dir):
    """Delta-ingest dedup (textops/dedup.py incremental_dedup): the
    whole documents table arrives as a new batch against a simulated
    prior-corpus ledger (fingerprints of docs with id % 3 == 0);
    every row is kept with an admitted verdict + reason
    (new / dup_corpus / dup_batch)."""
    from .textops.dedup import incremental_dedup

    docs = tp(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    prior = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.substring(F.md5(norm.cast("string")), 1, 16).alias("content_fp")
    )
    return incremental_dedup(docs, prior, broadcast_ledger=True)


@query(r"""
        WITH urls AS (
          SELECT CASE doc_id % 6
            WHEN 0 THEN 'https://www.a' || (doc_id % 40) || '.example.org/p/' || doc_id
            WHEN 1 THEN 'HTTP://B' || (doc_id % 40) || '.Example.COM:80/x?q=' || doc_id || '#frag'
            WHEN 2 THEN 'https://c' || (doc_id % 40) || '.example.net:8443/' || doc_id
            WHEN 3 THEN 'https://user:pw@d' || (doc_id % 40) || '.example.org'
            WHEN 4 THEN 'http://deep.sub.e' || (doc_id % 40) || '.example.org/a/b?x=1&y=' || doc_id
            ELSE 'relative/path/' || doc_id END AS url
          FROM documents),
        parts AS (
          SELECT url,
            lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
            lower(regexp_extract(url,
              '^[^:/?#]+://(?:[^/?#@]*@)?([^/?#]*)', 1)) AS hostport,
            regexp_extract(url, '^[^:/?#]+://[^/?#]*([^#]*)', 1) AS tail0
          FROM urls),
        p2 AS (
          SELECT url, scheme,
            regexp_extract(hostport, '^([^:]*)', 1) AS host0,
            regexp_extract(hostport, ':(\d+)$', 1) AS port0,
            CASE WHEN tail0 = '' THEN '/' ELSE tail0 END AS tail
          FROM parts),
        p3 AS (
          SELECT url, tail,
            regexp_replace(host0, '^www\.', '') AS host,
            CASE WHEN scheme = 'http' AND port0 = '80' THEN ''
                 WHEN scheme = 'https' AND port0 = '443' THEN ''
                 ELSE port0 END AS port
          FROM p2),
        surts AS (
          SELECT url,
            CASE WHEN contains(url, '://') THEN
              array_to_string(list_reverse(string_split(host, '.')), ',')
              || CASE WHEN port = '' THEN '' ELSE ':' || port END
              || ')' || tail
            ELSE NULL END AS surt
          FROM p3)
        SELECT url, surt,
          regexp_extract(surt, '^([^)]*)\)', 1) AS surt_host
        FROM surts
    """)
def q_surt_keys(spark, sf_dir):
    """SURT canonical ordering (frontier/seen.py add_surt_keys): the
    CDX-index sort key that makes a domain's URLs lexicographically
    contiguous (range-partition locality without a hash shuffle).
    URL synthesis covers scheme case, www, userinfo, default and
    explicit ports, query strings, fragments, and a scheme-less row
    (NULL surt — error-as-data)."""
    from .frontier.seen import add_surt_keys

    docs = t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = (
        F.when(d % 6 == 0, F.concat(F.lit("https://www.a"), (d % 40).cast("string"), F.lit(".example.org/p/"), d.cast("string")))
        .when(d % 6 == 1, F.concat(F.lit("HTTP://B"), (d % 40).cast("string"), F.lit(".Example.COM:80/x?q="), d.cast("string"), F.lit("#frag")))
        .when(d % 6 == 2, F.concat(F.lit("https://c"), (d % 40).cast("string"), F.lit(".example.net:8443/"), d.cast("string")))
        .when(d % 6 == 3, F.concat(F.lit("https://user:pw@d"), (d % 40).cast("string"), F.lit(".example.org")))
        .when(d % 6 == 4, F.concat(F.lit("http://deep.sub.e"), (d % 40).cast("string"), F.lit(".example.org/a/b?x=1&y="), d.cast("string")))
        .otherwise(F.concat(F.lit("relative/path/"), d.cast("string")))
    )
    return add_surt_keys(docs.select(url.alias("url"))).select(
        "url", "surt", "surt_host"
    )


@query(r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE trim(text) <> ''),
        st AS (
          SELECT doc_id, t, len(t) AS n,
            range(0, greatest(len(t) - 8 - 1, 0) + 1, 24) AS starts
          FROM toks),
        flat AS (SELECT doc_id, t, n, unnest(starts) AS s FROM st)
        SELECT doc_id,
          CAST(s // 24 AS INTEGER) AS chunk_idx,
          CAST(least(32, n - s) AS INTEGER) AS n_tokens,
          array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text
        FROM flat
    """)
def q_chunk_text(spark, sf_dir):
    """Sliding-window chunking (textops/mix.py chunk_text): 32-token
    windows with 8-token overlap; the final window reaches the last
    token and short docs yield exactly one window.  Zero-shuffle plan
    (one codegen projection + explode)."""
    from .textops.mix import chunk_text

    return chunk_text(tp(spark, sf_dir, "documents"), max_tokens=32, overlap=8)


@query(r"""
        WITH staged AS (
          SELECT doc_id,
            'h' || (doc_id % 7) || '.example.org' AS host,
            len(string_split_regex(trim(text), '\s+')) AS n_tokens
          FROM documents),
        pre AS (
          SELECT *, row_number() OVER (
              PARTITION BY host, doc_id % 16
              ORDER BY n_tokens DESC, doc_id) AS prer
          FROM staged),
        surv AS (
          SELECT doc_id, host, n_tokens, row_number() OVER (
              PARTITION BY host ORDER BY n_tokens DESC, doc_id) AS rk
          FROM pre WHERE prer <= 40)
        SELECT s.doc_id, s.host, s.n_tokens,
          CAST(v.rk AS INTEGER) AS rk,
          coalesce(CAST(v.rk <= 40 AS INTEGER), 0) AS kept
        FROM staged s LEFT JOIN surv v USING (doc_id)
    """)
def q_host_quota(spark, sf_dir):
    """Per-host quota sampling (textops/mix.py host_quota_sample):
    synthesized host = id%7, quality = token count, cap 40 — no host
    contributes more than 40 docs, best-first; salted two-phase rank
    (pre-trim victims come back kept=0, rk NULL)."""
    from .textops.mix import host_quota_sample

    docs = tp(spark, sf_dir, "documents")
    d = F.col("doc_id")
    staged = docs.select(
        d,
        F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example.org")).alias("host"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    return host_quota_sample(staged, cap=40)


@query(rf"""
        WITH toks AS (
          SELECT doc_id,
            CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[])
                 ELSE string_split({_NORM}, ' ') END AS t
          FROM documents),
        feats AS (
          SELECT doc_id,
            list_concat(t, list_transform(
              range(greatest(len(t) - 1, 0)),
              i -> t[i + 1] || ' ' || t[i + 2])) AS fs
          FROM toks),
        flat AS (SELECT doc_id, unnest(fs) AS f FROM feats),
        ws AS (
          SELECT doc_id,
            ((('0x' || substr(md5('w' ||
                (('0x' || substr(md5(f), 1, 8))::BIGINT % 4096)
              ), 1, 8))::BIGINT % 2001) - 1000) AS w
          FROM flat),
        scored AS (
          SELECT doc_id, count(*) AS n, sum(w) AS ws FROM ws GROUP BY doc_id)
        SELECT d.doc_id,
          coalesce(s.n, 0) AS n_feats,
          CAST(coalesce(s.ws, 0) AS BIGINT) AS w_sum,
          ROUND(s.ws / (1000.0 * s.n), 6) AS mean_w,
          coalesce(CAST(s.ws > 0 AS INT), 0) AS admitted
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """)
def q_linear_scores(spark, sf_dir):
    """fastText-style hashed linear admission scoring (textops/
    quality.py hashed_linear_scores): unigram+bigram features hashed
    into 4096 buckets with inline hash-derived weights — all codegen,
    exact-integer score until one final division so the SQL twin is
    bit-identical."""
    from .textops.quality import hashed_linear_scores

    return hashed_linear_scores(tp(spark, sf_dir, "documents"))


# ----------------------------------------- retrieval, encoding, crawl hygiene
@query(rf"""
        WITH lens AS (SELECT doc_id, len({_TOKS}) AS dl FROM documents),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM lens),
        terms AS (
          SELECT doc_id, len({_TOKS}) AS dl, UNNEST({_TOKS}) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
          FROM terms GROUP BY 1, 2
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        scored AS (
          SELECT tf.doc_id, tf.term, dfq.df,
                 ROUND(
                   ((CAST(n_docs - df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))
                   * ((CAST(tf AS DOUBLE) * 2.2)
                      / (CAST(tf AS DOUBLE)
                         + 1.2 * (0.25
                                  + 0.75 * (CAST(dl AS DOUBLE)
                                            / (CAST(sum_dl AS DOUBLE)
                                               / CAST(n_docs AS DOUBLE)))))),
                   4) AS score
          FROM tf JOIN dfq USING (term), stats
          WHERE df >= 2
        ),
        ranked AS (
          SELECT doc_id, term, df, score,
                 ROW_NUMBER() OVER (
                   PARTITION BY term ORDER BY score DESC, doc_id ASC
                 ) AS rk
          FROM scored
        )
        SELECT term, MAX(df) AS df,
               MAX(CASE WHEN rk = 1 THEN doc_id END) AS top_doc,
               MAX(CASE WHEN rk = 1 THEN score END) AS top_score,
               string_agg(lpad(CAST(rk AS VARCHAR), 2, '0') || ':' || doc_id,
                          '|' ORDER BY lpad(CAST(rk AS VARCHAR), 2, '0')
                                       || ':' || doc_id) AS postings
        FROM ranked WHERE rk <= 5 GROUP BY term
    """)
def q_bm25_index(spark, sf_dir):
    """BM25 postings index (textops/index.py bm25_index): one explode,
    two map-side counts with dl carried through the aggregate (no
    per-doc join), broadcast corpus stats, rank≤k window truncation —
    the retrieval-side twin of doc_keywords, rational-idf bit-stable."""
    from .textops.index import bm25_index

    return bm25_index(tp(spark, sf_dir, "documents"), topk=5)


@query(r"""
        WITH e AS (
          SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        ),
        lagd AS (
          SELECT user_id, event_id, us,
                 LAG(us) OVER (
                   PARTITION BY user_id ORDER BY us ASC, event_id ASC
                 ) AS prev
          FROM e
        ),
        numbered AS (
          SELECT user_id, event_id, us,
                 CAST(SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000
                               THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY us ASC, event_id ASC
                   ROWS UNBOUNDED PRECEDING
                 ) AS BIGINT) AS session_id
          FROM lagd
        )
        SELECT user_id, session_id,
               COUNT(*) AS n_events,
               MIN(event_id) AS first_event,
               MIN(us) AS start_us,
               MAX(us) AS end_us,
               (MAX(us) - MIN(us)) // 1000000 AS duration_sec
        FROM numbered GROUP BY user_id, session_id
    """)
def q_fetch_sessions(spark, sf_dir):
    """Gap-based fetch-log sessionization (crawl/sessions.py
    sessionize): one Exchange+Sort serves both the gap lag and the
    running session number; 30-min gap over the events table as the
    fetch-log stand-in.  Integer-microsecond arithmetic end-to-end."""
    from .crawl.sessions import sessionize

    return sessionize(t(spark, sf_dir, "events"))


@query(r"""
        WITH h AS (
          SELECT doc_id,
            CASE doc_id % 9
              WHEN 0 THEN 'www.site' || (doc_id % 50) || '.com'
              WHEN 1 THEN 'news.site' || (doc_id % 50) || '.co.uk'
              WHEN 2 THEN 'user' || (doc_id % 50) || '.github.io'
              WHEN 3 THEN 'github.io'
              WHEN 4 THEN '10.' || (doc_id % 256) || '.0.1'
              WHEN 5 THEN 'localhost'
              WHEN 6 THEN 'a.b.cdn' || (doc_id % 50) || '.xyz'
              WHEN 7 THEN 'bucket' || (doc_id % 50) || '.s3.amazonaws.com'
              ELSE 'site' || (doc_id % 50) || '.org'
            END AS host
          FROM documents
        ),
        s AS (
          SELECT doc_id, host,
            list_transform(range(1, len(string_split(host, '.')) + 1),
                           i -> array_to_string(string_split(host, '.')[i:],
                                                '.')) AS sufs,
            regexp_matches(host, '^\d{1,3}(\.\d{1,3}){3}$') AS is_ip
          FROM h
        ),
        m AS (
          SELECT doc_id, host, sufs, is_ip, len(sufs) AS n,
            list_filter(sufs, x -> list_contains(__PSL__, x))[1] AS matched
          FROM s
        )
        SELECT doc_id, host,
          CASE WHEN is_ip OR n < 2 THEN NULL
               ELSE coalesce(matched, sufs[n]) END AS public_suffix,
          CASE WHEN is_ip THEN host
               WHEN n < 2 THEN NULL
               WHEN matched IS NOT NULL THEN
                 (CASE WHEN list_position(sufs, matched) > 1
                       THEN sufs[list_position(sufs, matched) - 1] END)
               ELSE sufs[n - 1] END AS registrable_domain
        FROM m
    """.replace("__PSL__", registrable_domain_sql_literal()))
def q_registrable_domains(spark, sf_dir):
    """PSL longest-match eTLD+1 (frontier/domains.py
    with_registrable_domain): embedded Mozilla-PSL subset, suffix-chain
    filter in pure codegen; hosts synthesized to hit every rule class —
    ICANN 2-level, private registry (incl. the host==suffix NULL case
    and a 3-label suffix), default-rule TLD, IPv4, single-label."""
    from .frontier.domains import with_registrable_domain

    d = F.col("doc_id")
    m = d % 9
    host = (
        F.when(m == 0, F.concat(F.lit("www.site"), (d % 50).cast("string"), F.lit(".com")))
        .when(m == 1, F.concat(F.lit("news.site"), (d % 50).cast("string"), F.lit(".co.uk")))
        .when(m == 2, F.concat(F.lit("user"), (d % 50).cast("string"), F.lit(".github.io")))
        .when(m == 3, F.lit("github.io"))
        .when(m == 4, F.concat(F.lit("10."), (d % 256).cast("string"), F.lit(".0.1")))
        .when(m == 5, F.lit("localhost"))
        .when(m == 6, F.concat(F.lit("a.b.cdn"), (d % 50).cast("string"), F.lit(".xyz")))
        .when(m == 7, F.concat(F.lit("bucket"), (d % 50).cast("string"), F.lit(".s3.amazonaws.com")))
        .otherwise(F.concat(F.lit("site"), (d % 50).cast("string"), F.lit(".org")))
    )
    docs = tp(spark, sf_dir, "documents").select(d.alias("doc_id"), host.alias("host"))
    return with_registrable_domain(docs)


@query("""
        SELECT doc_id,
               CASE doc_id % 7
                 WHEN 0 THEN 'utf-8'
                 WHEN 1 THEN 'utf-8'
                 WHEN 2 THEN 'iso-8859-1'
                 WHEN 3 THEN 'utf-16le'
                 WHEN 4 THEN 'utf-16be'
                 WHEN 5 THEN 'windows-1252'
                 ELSE 'shift_jis'
               END AS charset,
               CASE WHEN doc_id % 7 IN (0, 3, 4) THEN 'bom'
                    WHEN doc_id % 7 IN (1, 2, 6) THEN 'meta'
                    ELSE 'default' END AS source
        FROM documents
    """)
def q_charset_sniff(spark, sf_dir):
    """WHATWG-order charset sniff over REAL binary HTML
    (textops/charset.py): synthesize 7 encoding variants with native
    encode/to_binary (genuine UTF-8/16 bytes + BOMs), sniff BOM →
    meta-prescan → default entirely in codegen.  Oracle predicts the
    verdicts analytically from the synthesis key (media_dims
    pattern)."""
    from .textops.charset import sniff_charset, synth_html_bytes

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    return sniff_charset(synth_html_bytes(docs))


@query(rf"""
        WITH d AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(0, len(tk) - 2),
                               i -> array_to_string(tk[i+1:i+3], ' '))) AS s
          FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
          WHERE len(tk) >= 3
        ),
        d2 AS (SELECT doc_id, s FROM d WHERE len(s) > 0),
        sizes AS (SELECT doc_id, len(s) AS n_sh FROM d2),
        post AS (
          SELECT doc_id, substr(md5(g), 1, 16) AS fp
          FROM (SELECT doc_id, unnest(s) AS g FROM d2)
        ),
        keep AS (
          SELECT fp FROM post GROUP BY fp
          HAVING COUNT(*) >= 2 AND COUNT(*) <= 100
        ),
        p AS (SELECT post.doc_id, post.fp FROM post JOIN keep USING (fp)),
        shared AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
          FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 3
        ),
        scored AS (
          SELECT id1, id2, n_shared,
                 ROUND(CAST(n_shared AS DOUBLE)
                       / CAST(s1.n_sh AS DOUBLE), 4) AS c1,
                 ROUND(CAST(n_shared AS DOUBLE)
                       / CAST(s2.n_sh AS DOUBLE), 4) AS c2
          FROM shared
          JOIN sizes s1 ON shared.id1 = s1.doc_id
          JOIN sizes s2 ON shared.id2 = s2.doc_id
        )
        SELECT id1, id2, n_shared, c1, c2,
               GREATEST(c1, c2) AS containment
        FROM scored WHERE GREATEST(c1, c2) >= 0.5
    """)
def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment dedup (textops/dedup.py
    containment_pairs): df-capped shingle inverted index, both-way
    overlap scores — catches quoted/syndicated copies whose Jaccard is
    too low for the MinHash family.  All codegen, no Arrow crossing."""
    from .textops.dedup import containment_pairs

    return containment_pairs(
        tp(spark, sf_dir, "documents"),
        shingle_k=3, min_shared=3, threshold=0.5,
    )


@query("""
        SELECT doc_id,
               'body' AS main_tag,
               'page ' || doc_id AS main_text,
               CAST(0 AS INTEGER) AS n_paras,
               CAST(LENGTH('page ' || doc_id) AS INTEGER) AS main_len
        FROM documents
    """)
def q_binary_extract(spark, sf_dir):
    """The full archive path on one lazy plan: BINARY html (7 real
    encodings incl. UTF-16 both ways) → codegen charset sniff →
    Arrow-batched decode (textops/charset.py) → DOM main-content
    extraction (textops/content.py) — the north-rule input shape
    (html:binary) to corpus text end-to-end.  The oracle predicts the
    extracted text byte-for-byte from the deterministic synthesis."""
    from .textops.charset import decode_html, synth_html_bytes
    from .textops.content import extract_main_content

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    decoded = decode_html(synth_html_bytes(docs))
    return extract_main_content(decoded, html_col="text")


@query(
    _GRAPH_SQL
    + r"""
        , h0 AS (SELECT doc_id AS node, CAST(1 AS BIGINT) AS s
                 FROM documents)
        , a1 AS (SELECT e.dst AS node, CAST(SUM(h.s) AS BIGINT) AS s
                 FROM edges e JOIN h0 h ON e.src = h.node GROUP BY e.dst)
        , h1 AS (SELECT e.src AS node, CAST(SUM(a.s) AS BIGINT) AS s
                 FROM edges e JOIN a1 a ON e.dst = a.node GROUP BY e.src)
        , a2 AS (SELECT e.dst AS node, CAST(SUM(h.s) AS BIGINT) AS s
                 FROM edges e JOIN h1 h ON e.src = h.node GROUP BY e.dst)
        , h2 AS (SELECT e.src AS node, CAST(SUM(a.s) AS BIGINT) AS s
                 FROM edges e JOIN a2 a ON e.dst = a.node GROUP BY e.src)
        , base AS (
          SELECT d.doc_id AS node,
                 coalesce(h2.s, 0) AS hub_score,
                 coalesce(a2.s, 0) AS auth_score
          FROM documents d
          LEFT JOIN h2 ON d.doc_id = h2.node
          LEFT JOIN a2 ON d.doc_id = a2.node
        )
        , mx AS (SELECT CAST(MAX(hub_score) AS DOUBLE) AS mh,
                        CAST(MAX(auth_score) AS DOUBLE) AS ma FROM base)
        SELECT node, hub_score, auth_score,
               ROUND(CAST(hub_score AS DOUBLE) / mh, 6) AS hub_norm,
               ROUND(CAST(auth_score AS DOUBLE) / ma, 6) AS auth_norm
        FROM base, mx
    """
)
def q_hits_scores(spark, sf_dir):
    """HITS hubs/authorities (graph.py hits), 2 iterations in EXACT
    integer arithmetic (normalization deferred to one emitted division)
    — pagerank's update shape, none of its float-sum order risk."""
    from .graph import hits

    edges, nodes, _n = _graph_inputs(spark, sf_dir)
    return hits(edges, nodes)


@query(rf"""
        WITH t AS (
          SELECT lang, source, CAST(len({_TOKS}) AS BIGINT) AS n
          FROM documents
        )
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               ROUND(quantile_cont(n, 0.1), 4) AS p10_tokens,
               ROUND(quantile_cont(n, 0.5), 4) AS p50_tokens,
               ROUND(quantile_cont(n, 0.9), 4) AS p90_tokens,
               ROUND(CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
                 AS mean_tokens
        FROM t GROUP BY lang, source
    """)
def q_length_distribution(spark, sf_dir):
    """Per-(lang, source) sequence-length distribution (textops/
    quality.py length_distribution): exact token deciles
    (percentile == quantile_cont), exact-integer mean, one narrow
    shuffle; approx=True is the documented t-digest scale path."""
    from .textops.quality import length_distribution

    return length_distribution(tp(spark, sf_dir, "documents"))


@query("""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0
                        THEN text || ' cafÃ© â€” testÃ¼'
                      WHEN doc_id % 11 = 1
                        THEN text || ' bad � byte'
                      ELSE text END AS text
          FROM documents
        ),
        c AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
                   AS n_repl,
                 CAST(len(regexp_extract_all(text, '(Ã.)|(â€.)')) AS BIGINT)
                   AS n_moji,
                 CAST(GREATEST(LENGTH(text), 1) AS DOUBLE) AS n_chars
          FROM t
        )
        SELECT doc_id, n_repl, n_moji,
               ROUND(CAST(n_repl + n_moji AS DOUBLE) * 1000.0 / n_chars, 4)
                 AS damage_per_kchar,
               CASE WHEN n_repl + n_moji > 0 THEN 'damaged'
                    ELSE 'clean' END AS verdict
        FROM c
    """)
def q_encoding_health(spark, sf_dir):
    """Mojibake / replacement-char detection (textops/charset.py
    encoding_health): cp1252-mis-decode artifact counts at scan speed.
    Docs id%11∈{0,1} get real artifact strings appended (the damage a
    genuine utf-8→cp1252 mis-decode produces — pytest pins that round
    trip); the oracle runs the identical regexps in DuckDB."""
    from .textops.charset import encoding_health

    docs = tp(spark, sf_dir, "documents")
    d = F.col("doc_id")
    m = d % 11
    text = (
        F.when(m == 0, F.concat(F.col("text"), F.lit(" cafÃ© â€” testÃ¼")))
        .when(m == 1, F.concat(F.col("text"), F.lit(" bad � byte")))
        .otherwise(F.col("text"))
    )
    return encoding_health(docs.select(d, text.alias("text")))


# phrase search: the same windowed comparison over DuckDB list ops —
# t[i+1:i+k] is 1-based INCLUSIVE slicing, so offset i's k-token window
# is t[i+1 : i+2-1+k] = t[i+1 : i+k+1-1]; range() is end-exclusive.
@query(rf"""
    WITH toks AS (
      SELECT doc_id,
        CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[])
             ELSE string_split({_NORM}, ' ') END AS t
      FROM documents),
    hits AS (
      SELECT doc_id,
        CASE WHEN len(t) >= 2 THEN
          list_filter(range(0, len(t) - 1),
                      i -> array_to_string(t[i + 1 : i + 2], ' ') = 'row the')
        ELSE CAST([] AS BIGINT[]) END AS starts
      FROM toks)
    SELECT doc_id,
      CAST(len(starts) AS BIGINT) AS n_occurrences,
      CAST(starts[1] AS BIGINT) AS first_pos,
      CAST(starts[-1] AS BIGINT) AS last_pos
    FROM hits
""")
def q_phrase_search(spark, sf_dir):
    """Exact-phrase positional search (textops/index.py
    phrase_positions) for the bigram 'row the' over the corpus — the
    oracle re-derives every offset with the same windowed comparison
    over DuckDB list ops (cross-engine derivation, not enumeration)."""
    from .textops.index import phrase_positions

    return phrase_positions(tp(spark, sf_dir, "documents"), "row the")


# wordlist filter: the same normalize/tokenize chain as linear_scores,
# list literal in place of the broadcast table.
@query(rf"""
    WITH toks AS (
      SELECT doc_id,
        CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[])
             ELSE string_split({_NORM}, ' ') END AS t
      FROM documents),
    flat AS (SELECT doc_id, unnest(t) AS f FROM toks),
    per AS (
      SELECT doc_id, count(*) AS n,
        sum(CASE WHEN f IN ('filter', 'vector', 'window')
                 THEN 1 ELSE 0 END) AS h
      FROM flat GROUP BY doc_id)
    SELECT d.doc_id,
      coalesce(p.n, 0) AS n_tokens,
      CAST(coalesce(p.h, 0) AS BIGINT) AS n_flagged,
      ROUND(CAST(coalesce(p.h, 0) AS DOUBLE)
          / CAST(greatest(coalesce(p.n, 0), 1) AS DOUBLE), 4) AS flagged_frac,
      CAST(coalesce(p.h, 0) = 0 AS INT) AS admitted
    FROM documents d LEFT JOIN per p USING (doc_id)
""")
def q_wordlist_filter(spark, sf_dir):
    """C4-style wordlist admission gate (textops/clean.py
    wordlist_filter): exact lowercase-token blocklist matching —
    benign corpus words stand in for the policy list."""
    from .textops.clean import wordlist_filter

    return wordlist_filter(
        tp(spark, sf_dir, "documents"),
        words=["filter", "vector", "window"],
    )


# mojibake repair: the fixture's artifact strings and their repaired
# forms are fixed per doc_id%3 class over an all-ASCII base corpus, so
# the oracle emits the repaired text as literal concatenations.
@query(r"""
    SELECT doc_id,
      CASE WHEN doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END AS repaired,
      CASE WHEN doc_id % 3 = 0 THEN 3
           WHEN doc_id % 3 = 1 THEN 2 ELSE 0 END AS n_fixed,
      CASE WHEN doc_id % 3 = 0 THEN text || ' café résumé'
           WHEN doc_id % 3 = 1 THEN text || ' don’t — ok'
           ELSE text END AS text_repaired
    FROM documents
""")
def q_mojibake_repair(spark, sf_dir):
    """ftfy-style mojibake repair (textops/charset.py repair_mojibake):
    reverse a utf-8-read-as-cp1252 mis-decode via a strict codec
    round-trip; the ASCII base corpus plus appended artifact strings
    makes the repaired output analytically predictable.  ids%3==0 get
    the two-byte-letter family, ids%3==1 the cp1252-punctuation family,
    the rest pass through byte-identical."""
    from .textops.charset import repair_mojibake

    docs = tp(spark, sf_dir, "documents")
    d = F.col("doc_id")
    m = d % 3
    text = (
        F.when(m == 0, F.concat(F.col("text"), F.lit(" cafÃ© rÃ©sumÃ©")))
        .when(m == 1, F.concat(F.col("text"), F.lit(" donâ€™t â€” ok")))
        .otherwise(F.col("text"))
    )
    return repair_mojibake(docs.select(d, text.alias("text")))


@query(rf"""
        WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
        d AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 4),
        g0 AS (
          SELECT doc_id, CAST(len(tk) - 3 AS INT) AS n_grams,
                 UNNEST(list_transform(range(0, len(tk) - 3),
                   i -> struct_pack(
                     pos := CAST(i AS INT),
                     h := substr(md5(array_to_string(tk[i+1:i+4], ' ')),
                                 1, 16)))) AS u
          FROM d
        ),
        sk AS (
          SELECT doc_id, u.pos AS pos, n_grams,
                 u.h || lpad(CAST(1000000000 - u.pos AS VARCHAR), 10, '0')
                   AS skey
          FROM g0
        ),
        win AS (
          SELECT doc_id, pos, n_grams,
                 min_by(pos, skey) OVER wnd AS sel_pos,
                 min(skey) OVER wnd AS min_sk
          FROM sk
          WINDOW wnd AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
        )
        SELECT DISTINCT doc_id, CAST(sel_pos AS INT) AS pos,
               substr(min_sk, 1, 16) AS fp
        FROM win WHERE pos <= greatest(n_grams - 4, 0)
    """)
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint selection (textops/quality.py
    winnow_fingerprints): MOSS-style per-window rightmost-min k-gram
    hashes — position-aware partial-copy detection; zero-shuffle
    narrow transformation, one Arrow crossing.  The oracle re-derives
    the selection relationally (min_by over a ROWS window) — a
    cross-algorithm check, not a reimplementation."""
    from .textops.quality import winnow_fingerprints

    return winnow_fingerprints(
        tp(spark, sf_dir, "documents"), k=4, w=4
    )


@query(rf"""
        WITH {_PAGE_SQL},
        hosted AS (
          SELECT d.doc_id, 'www.' || d.source || '.example' AS host,
                 'nav ' || d.source || ' home' || chr(10) || p.page AS page
          FROM pages p JOIN documents d USING (doc_id)
        ),
        lns AS (
          SELECT host,
                 UNNEST(list_distinct(list_filter(
                   string_split(page, chr(10)), l -> l <> ''))) AS line
          FROM hosted
        ),
        per_line AS (
          SELECT host, substr(md5(line), 1, 16) AS fp,
                 COUNT(*) AS n_docs, MIN(line) AS line
          FROM lns GROUP BY host, substr(md5(line), 1, 16)
        ),
        hd AS (SELECT host, COUNT(*) AS host_docs FROM hosted GROUP BY host)
        SELECT per_line.host, fp, line, n_docs, host_docs,
               ROUND(CAST(n_docs AS DOUBLE) / CAST(host_docs AS DOUBLE), 4)
                 AS frac,
               CAST(host_docs >= 5
                    AND CAST(n_docs AS DOUBLE)
                        >= 0.5 * CAST(host_docs AS DOUBLE) AS INT)
                 AS boilerplate
        FROM per_line JOIN hd USING (host)
    """)
def q_boilerplate_lines(spark, sf_dir):
    """Host-scoped boilerplate line discovery (textops/clean.py
    boilerplate_lines): lines on ≥50% of a host's pages are chrome.
    Hosts synthesized from `source`; a per-host nav line is prepended
    so host-specific chrome exists alongside the corpus-wide
    header/footer the paragraph-dedup family handles."""
    from .textops.clean import boilerplate_lines, synth_page_expr

    docs = tp(spark, sf_dir, "documents")
    host = F.concat(F.lit("www."), F.col("source"), F.lit(".example"))
    pages = docs.select(
        F.col("doc_id"),
        host.alias("host"),
        F.concat(
            F.lit("nav "),
            F.col("source"),
            F.lit(" home\n"),
            synth_page_expr(),
        ).alias("page"),
    )
    return boilerplate_lines(pages)


@query(rf"""
        WITH t AS (SELECT {_TOKS} AS tk FROM documents),
        p AS (
          SELECT UNNEST(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1])) AS pair
          FROM t WHERE len(tk) >= 2
        ),
        c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair)
        SELECT pair, cnt, rank FROM (
          SELECT pair, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, pair)
                      AS INTEGER) AS rank
          FROM c)
        WHERE rank <= 50
    """)
def q_bpe_pairs(spark, sf_dir):
    """First BPE merge iteration (textops/mix.py bpe_merge_pairs):
    corpus-wide adjacent-token-pair counts, top-50 merge candidates
    with deterministic tie-break — the tokenizer-training primitive
    over the assembled corpus.  One map-side-combined shuffle of the
    distinct-pair zipf head."""
    from .textops.mix import bpe_merge_pairs

    return bpe_merge_pairs(tp(spark, sf_dir, "documents"), top_k=50)


def _fetch_log_synth(spark, sf_dir):
    """Deterministic fetch log with redirect structure: per doc_id
    m=id%10 — m∈{0..4,8} terminal 200; m=5 → 301 to an external URL
    never fetched (dangling); m=6 → 301 to id+1 (m=7) → 302 to id+2
    (m=8, terminal): a 2-hop chain; m=9 → 301 to itself (loop)."""
    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")

    def url_of(i):
        return F.concat(
            F.lit("https://h"), (i % 50).cast("string"),
            F.lit(".example/p/"), i.cast("string"),
        )

    m = d % 10
    status = (
        F.when(m == 5, F.lit(301))
        .when(m == 6, F.lit(301))
        .when(m == 7, F.lit(302))
        .when(m == 9, F.lit(301))
        .otherwise(F.lit(200))
    )
    loc = (
        F.when(
            m == 5,
            F.concat(F.lit("https://external.example/x"), d.cast("string")),
        )
        .when((m == 6) | (m == 7), url_of(d + 1))
        .when(m == 9, url_of(d))
        .otherwise(F.lit(None).cast("string"))
    )
    return docs.select(
        url_of(d).alias("url"), status.alias("status"), loc.alias("location")
    )


@query(r"""
        WITH RECURSIVE log AS (
          SELECT 'https://h' || CAST(doc_id % 50 AS VARCHAR)
                 || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                 CASE WHEN doc_id % 10 IN (5, 6, 9) THEN 301
                      WHEN doc_id % 10 = 7 THEN 302
                      ELSE 200 END AS status,
                 CASE WHEN doc_id % 10 = 5
                        THEN 'https://external.example/x'
                             || CAST(doc_id AS VARCHAR)
                      WHEN doc_id % 10 IN (6, 7)
                        THEN 'https://h' || CAST((doc_id+1) % 50 AS VARCHAR)
                             || '.example/p/' || CAST(doc_id+1 AS VARCHAR)
                      WHEN doc_id % 10 = 9
                        THEN 'https://h' || CAST(doc_id % 50 AS VARCHAR)
                             || '.example/p/' || CAST(doc_id AS VARCHAR)
                      ELSE NULL END AS loc
          FROM documents
        ),
        walk AS (
          SELECT url, url AS cur, 0 AS hops FROM log
          UNION ALL
          SELECT w.url, l.loc, w.hops + 1
          FROM walk w JOIN log l ON w.cur = l.url
          WHERE l.status >= 300 AND l.status < 400
            AND l.loc IS NOT NULL AND w.hops < 8
        ),
        fin AS (
          SELECT url, max_by(cur, hops) AS final_url,
                 CAST(MAX(hops) AS INT) AS n_hops
          FROM walk GROUP BY url
        )
        SELECT f.url, f.final_url, f.n_hops,
               CASE WHEN l2.url IS NOT NULL AND l2.status >= 300
                         AND l2.status < 400 AND l2.loc IS NOT NULL
                      THEN 'unresolved'
                    WHEN l2.url IS NULL THEN 'dangling'
                    ELSE 'resolved' END AS verdict
        FROM fin f LEFT JOIN log l2 ON f.final_url = l2.url
    """)
def q_redirect_chains(spark, sf_dir):
    """Redirect-chain resolution (crawl/redirects.py resolve_redirects):
    pointer doubling — ceil(log2(max_hops)) narrow self-joins resolve
    chains of length max_hops; loops and over-cap chains come back
    verdict='unresolved', chain exits verdict='dangling' (frontier
    candidates).  The oracle walks the same log with a recursive CTE —
    a cross-algorithm check of the doubling."""
    from .crawl.redirects import resolve_redirects

    return resolve_redirects(_fetch_log_synth(spark, sf_dir), max_hops=8)


@query(rf"""
        WITH pages AS (
          SELECT 'https://s.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                 CASE WHEN doc_id % 7 = 0
                        THEN 'sorry this page does not exist'
                      WHEN doc_id % 7 = 1 THEN text || ' error 404 appended'
                      WHEN doc_id % 7 = 2 THEN 'not found'
                      ELSE text END AS text,
                 CASE WHEN doc_id % 7 = 2 THEN 50
                      ELSE (doc_id * 3) % 40 END AS n_links
          FROM documents
        ),
        scored AS (
          SELECT url,
                 len(regexp_extract_all(lower(text),
                   '(not found|page does not exist|no longer available|error 404|page unavailable)',
                   1)) AS n_markers,
                 len({_TOKS}) AS n_tokens,
                 n_links
          FROM pages
        )
        SELECT url, CAST(n_markers AS INT) AS n_markers,
               CAST(n_tokens AS INT) AS n_tokens,
               ROUND(CAST(n_links AS DOUBLE)
                     / CAST(greatest(n_tokens, 1) AS DOUBLE), 4)
                 AS link_ratio,
               CAST(n_markers > 0 AND (n_tokens < 20
                    OR CAST(n_links AS DOUBLE)
                       >= 0.5 * CAST(greatest(n_tokens, 1) AS DOUBLE))
                 AS INT) AS soft404
        FROM scored
    """)
def q_soft404(spark, sf_dir):
    """Soft-404 classification (crawl/redirects.py soft404_scores):
    200-status error pages detected from content — marker phrases ×
    (tiny text | link-heavy chrome).  Pure codegen projection."""
    from .crawl.redirects import soft404_scores

    docs = tp(spark, sf_dir, "documents")
    d = F.col("doc_id")
    m = d % 7
    text = (
        F.when(m == 0, F.lit("sorry this page does not exist"))
        .when(m == 1, F.concat(F.col("text"), F.lit(" error 404 appended")))
        .when(m == 2, F.lit("not found"))
        .otherwise(F.col("text"))
    )
    pages = docs.select(
        F.concat(F.lit("https://s.example/p/"), d.cast("string")).alias("url"),
        text.alias("text"),
        F.when(m == 2, F.lit(50)).otherwise((d * 3) % 40).alias("n_links"),
    )
    return soft404_scores(pages)


@query(r"""
        WITH log AS (
          SELECT 'h' || CAST(user_id % 40 AS VARCHAR) AS host,
                 epoch_us(ts) AS ts
          FROM events
        ),
        delays AS (
          SELECT 'h' || CAST(i AS VARCHAR) AS host,
                 CAST((30 + (i % 5) * 30) * 1000000 AS BIGINT) AS delay_us
          FROM range(0, 40) r(i)
        ),
        gaps AS (
          SELECT host,
                 ts - lag(ts) OVER (PARTITION BY host ORDER BY ts) AS gap_us
          FROM log
        )
        SELECT g.host, COUNT(*) AS n_fetches, COUNT(gap_us) AS n_gaps,
               CAST(SUM(CASE WHEN gap_us < d.delay_us THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations,
               MIN(gap_us) AS min_gap_us, MAX(d.delay_us) AS delay_us
        FROM gaps g JOIN delays d USING (host)
        GROUP BY g.host
    """)
def q_politeness_audit(spark, sf_dir):
    """Crawl-delay compliance audit (frontier/politeness.py
    politeness_audit): per-host consecutive-fetch gaps vs the delay
    contract — the operator that VERIFIES the scheduler kept the
    politeness budget.  One Exchange: lag and the closing groupBy
    share the (host) partitioning; the contract table broadcasts.
    Events stand in as the fetch log (integer-microsecond gaps)."""
    from .frontier.politeness import politeness_audit

    ev = t(spark, sf_dir, "events")
    hostnum = F.col("user_id") % 40
    log = ev.select(
        F.concat(F.lit("h"), hostnum.cast("string")).alias("host"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
    )
    delays = spark.range(40).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        ((F.lit(30) + (F.col("id") % 5) * 30) * 1000000)
        .cast("long")
        .alias("delay_us"),
    )
    return politeness_audit(log, delays)


@query(r"""
        SELECT host,
               CAST(list_max(list_transform(range(0, 16),
                 k -> struct_pack(
                   w := substr(md5(host || ':' || CAST(k AS VARCHAR)), 1, 16),
                   k := k))).k AS INT) AS shard
        FROM (SELECT 'h' || CAST(doc_id AS VARCHAR) AS host FROM documents)
    """)
def q_shard_plan(spark, sf_dir):
    """Rendezvous-hash frontier sharding (frontier/sharding.py
    rendezvous_shards): host -> argmax_k weight(host, k) over 16
    shards — minimal remap on resize (the mod-hash killer at 10^10
    URLs); pure codegen array reduction, no shuffle.  pytest pins the
    add-a-shard property: every remapped host lands on the NEW shard."""
    from .frontier.sharding import rendezvous_shards

    hosts = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string")).alias("host")
    )
    return rendezvous_shards(hosts, n_shards=16)


@query(rf"""
        WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        c AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1),
        v AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 16),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        per AS (
          SELECT tk.doc_id, COUNT(*) AS n_tokens,
                 CAST(SUM(COALESCE(v.cnt, 0)) AS BIGINT) AS mass
          FROM tk LEFT JOIN v USING (tok) GROUP BY 1
        ),
        j AS (
          SELECT per.doc_id, d.lang, per.n_tokens,
                 ROUND(CAST(mass AS DOUBLE)
                       / CAST(per.n_tokens * total AS DOUBLE), 10)
                   AS avg_tok_prob
          FROM per, tot JOIN documents d ON per.doc_id = d.doc_id
        ),
        thr AS (
          SELECT lang, quantile_cont(avg_tok_prob, 1.0/3) AS t1,
                 quantile_cont(avg_tok_prob, 2.0/3) AS t2
          FROM j GROUP BY lang
        ),
        b AS (
          SELECT j.doc_id, j.lang, j.n_tokens,
                 CASE WHEN avg_tok_prob <= t1 THEN 'tail'
                      WHEN avg_tok_prob <= t2 THEN 'middle'
                      ELSE 'head' END AS bucket
          FROM j JOIN thr USING (lang)
        ),
        r AS (
          SELECT lang, bucket, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
          FROM b GROUP BY lang, bucket
        ),
        g AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS gt FROM r)
        SELECT lang, bucket, n_docs, n_tokens,
               ROUND(CAST(n_tokens AS DOUBLE) / CAST(gt AS DOUBLE), 4)
                 AS frac_tokens
        FROM r, g
    """)
def q_corpus_mix(spark, sf_dir):
    """Corpus composition report (textops/mix.py corpus_mix_report):
    docs/tokens/token-share per (language, quality bucket) — the data
    card a training run ships.  Composes quality_buckets; one narrow
    rollup + broadcast total."""
    from .textops.mix import corpus_mix_report

    return corpus_mix_report(tp(spark, sf_dir, "documents"))


@query(rf"""
        WITH {_PAGE_SQL},
        s AS (
          SELECT doc_id,
                 list_filter(string_split_regex(page, '[.!?]+'),
                             x -> trim(x) <> '') AS segs
          FROM pages
        ),
        t AS (
          SELECT doc_id, len(segs) AS n_sentences,
                 list_transform(segs,
                   x -> len(string_split_regex(trim(x), '\s+'))) AS tc
          FROM s
        )
        SELECT doc_id, CAST(n_sentences AS INT) AS n_sentences,
               CASE WHEN n_sentences > 0
                    THEN ROUND(CAST(list_sum(tc) AS DOUBLE)
                               / CAST(n_sentences AS DOUBLE), 4)
               END AS avg_sent_tokens,
               CAST(list_max(tc) AS INT) AS max_sent_tokens
        FROM t
    """)
def q_sentence_stats(spark, sf_dir):
    """Sentence segmentation stats (textops/quality.py sentence_stats)
    over the synthesized page column — packing/quality signal;
    lookbehind-free split so Spark (java regex) and DuckDB (RE2)
    compute the identical segmentation."""
    from .textops.clean import with_page
    from .textops.quality import sentence_stats

    return sentence_stats(with_page(tp(spark, sf_dir, "documents")))


@query(r"""
        WITH h AS (
          SELECT
            'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/d/'
              || CAST(doc_id AS VARCHAR) AS url_canon,
            'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
            doc_id % 7 + 1 AS fetch_count,
            (doc_id * 3) % (doc_id % 7 + 2) AS change_count,
            doc_id % 13 AS last_fetch_round,
            CAST(doc_id % 3 <> 0 AS INT) AS has_validator
          FROM documents
        ),
        s AS (
          SELECT url_canon, host, has_validator,
            (change_count + 0.5) / CAST(fetch_count + 1 AS DOUBLE) AS lam,
            ((change_count + 0.5) / CAST(fetch_count + 1 AS DOUBLE)
              * CAST(16 - last_fetch_round AS DOUBLE))
            / (1.0 + (change_count + 0.5) / CAST(fetch_count + 1 AS DOUBLE)
               * CAST(16 - last_fetch_round AS DOUBLE)) AS staleness
          FROM h
        )
        SELECT url_canon, host, lam, staleness,
               CASE WHEN staleness < 0.5 THEN 'skip'
                    WHEN has_validator = 1 AND lam < 0.3 THEN 'revalidate'
                    ELSE 'fetch' END AS action
        FROM s
    """)
def q_revalidation_plan(spark, sf_dir):
    """Conditional-GET planning (frontier/freshness.py
    revalidation_plan): skip / revalidate / fetch from the same
    rational staleness model as recrawl_priority plus a has_validator
    flag — the split that turns most recrawl traffic into ~40-byte
    304s.  Pure codegen projection, no shuffle."""
    from .frontier.freshness import revalidation_plan

    docs = tp(spark, sf_dir, "documents")
    did = F.col("doc_id")
    fetch_count = (did % 7 + 1).cast("long")
    history = docs.select(
        F.concat(
            F.lit("https://h"), (did % 7).cast("string"),
            F.lit(".example.org/d/"), did.cast("string"),
        ).alias("url_canon"),
        F.concat(
            F.lit("h"), (did % 7).cast("string"), F.lit(".example.org")
        ).alias("host"),
        fetch_count.alias("fetch_count"),
        ((did * 3) % (fetch_count + 1)).cast("long").alias("change_count"),
        (did % 13).cast("long").alias("last_fetch_round"),
        (did % 3 != 0).cast("int").alias("has_validator"),
    )
    return revalidation_plan(history, now_round=16)


@query(r"""
        WITH hosts AS (
          SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                 doc_id % 100 + 1 AS est_pages
          FROM documents
        ),
        assigned AS (
          SELECT host, est_pages,
                 CAST(list_max(list_transform(range(0, 16),
                   k -> struct_pack(
                     w := substr(md5(host || ':' || CAST(k AS VARCHAR)),
                                 1, 16),
                     k := k))).k AS INT) AS shard
          FROM hosts
        )
        SELECT shard, COUNT(*) AS n_hosts,
               CAST(SUM(est_pages) AS BIGINT) AS load
        FROM assigned GROUP BY shard
    """)
def q_shard_loads(spark, sf_dir):
    """Shard balance report (frontier/sharding.py shard_loads) over
    the rendezvous assignment, weighted by a per-host page estimate —
    the table a resize decision reads.  Composes shard_plan's
    assignment; one map-side-combined groupBy on the shard id."""
    from .frontier.sharding import rendezvous_shards, shard_loads

    hosts = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string")).alias("host"),
        (F.col("doc_id") % 100 + 1).alias("est_pages"),
    )
    assigned = rendezvous_shards(hosts.select("host"), n_shards=16).join(
        hosts, "host"
    )
    return shard_loads(assigned)


@query(r"""
        WITH c AS (
          SELECT COUNT(*) FILTER (doc_id % 4 = 0) AS ab12,
                 COUNT(*) FILTER (doc_id % 4 = 1) AS ab21,
                 COUNT(*) FILTER (doc_id % 4 = 2) AS ab34,
                 COUNT(*) FILTER (doc_id % 8 = 3) AS ab56,
                 COUNT(*) FILTER (doc_id % 8 = 7) AS ab65
          FROM documents
        )
        SELECT 'h1.example' AS host_a, 'h2.example' AS host_b,
               CAST(ab12 AS BIGINT) AS n_ab, CAST(ab21 AS BIGINT) AS n_ba,
               CAST(least(ab12, ab21) AS BIGINT) AS n_mutual,
               ROUND(2.0 * least(ab12, ab21) / (ab12 + ab21), 4)
                 AS reciprocity
        FROM c
        UNION ALL
        SELECT 'h3.example', 'h4.example', CAST(ab34 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0
        FROM c
        UNION ALL
        SELECT 'h5.example', 'h6.example', CAST(ab56 AS BIGINT),
               CAST(ab65 AS BIGINT), CAST(least(ab56, ab65) AS BIGINT),
               ROUND(2.0 * least(ab56, ab65) / (ab56 + ab65), 4)
        FROM c
    """)
def q_host_reciprocity(spark, sf_dir):
    """Link-farm reciprocity (crawl/links.py host_reciprocity) over
    host_graph: m=id%4 — m∈{0,1} build a balanced h1↔h2 exchange,
    m=2 a one-way h3→h4, m=3 an unbalanced h5↔h6 (id%8 splits the
    direction 1:0.5).  One canonically-keyed groupBy, no self-join."""
    from .crawl.links import host_graph, host_reciprocity

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    m = d % 4
    src_h = (
        F.when(m == 0, F.lit("h1")).when(m == 1, F.lit("h2"))
        .when(m == 2, F.lit("h3"))
        .otherwise(F.when(d % 8 == 3, F.lit("h5")).otherwise(F.lit("h6")))
    )
    dst_h = (
        F.when(m == 0, F.lit("h2")).when(m == 1, F.lit("h1"))
        .when(m == 2, F.lit("h4"))
        .otherwise(F.when(d % 8 == 3, F.lit("h6")).otherwise(F.lit("h5")))
    )
    links = docs.select(
        F.concat(F.lit("https://"), src_h, F.lit(".example/p/"),
                 d.cast("string")).alias("src"),
        F.concat(F.lit("https://"), dst_h, F.lit(".example/x/"),
                 d.cast("string")).alias("dst"),
        F.lit("a").alias("anchor"),
        F.lit(0).alias("link_idx"),
        F.lit(0).alias("nofollow"),
        F.lit(0).alias("internal"),
    )
    return host_reciprocity(host_graph(links))


@query(rf"""
        WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        c AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1),
        v AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 16),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        per AS (
          SELECT tk.doc_id, COUNT(*) AS n_tokens,
                 CAST(SUM(COALESCE(v.cnt, 0)) AS BIGINT) AS mass
          FROM tk LEFT JOIN v USING (tok) GROUP BY 1
        ),
        j AS (
          SELECT per.doc_id, d.lang,
                 ROUND(CAST(mass AS DOUBLE)
                       / CAST(n_tokens * total AS DOUBLE), 10)
                   AS avg_tok_prob
          FROM per, tot JOIN documents d ON per.doc_id = d.doc_id
        ),
        thr AS (
          SELECT lang, quantile_cont(avg_tok_prob, 1.0/3) AS t1,
                 quantile_cont(avg_tok_prob, 2.0/3) AS t2
          FROM j GROUP BY lang
        )
        SELECT j.doc_id, j.lang, j.avg_tok_prob,
               CASE WHEN avg_tok_prob <= t1 THEN 'tail'
                    WHEN avg_tok_prob <= t2 THEN 'middle'
                    ELSE 'head' END AS bucket
        FROM j JOIN thr USING (lang)
    """)
def q_quality_buckets(spark, sf_dir):
    """CCNet head/middle/tail bucketing (textops/mix.py
    quality_buckets): per-language LM-score terciles — exact
    interpolated percentile, bit-identical to DuckDB quantile_cont;
    thresholds broadcast back over the scored relation."""
    from .textops.mix import quality_buckets

    return quality_buckets(tp(spark, sf_dir, "documents"))


@query(r"""
        WITH m AS (
          SELECT COUNT(*) FILTER (doc_id % 5 = 1) AS n_norule,
                 COUNT(*) FILTER (doc_id % 5 <> 1) AS n_ruled,
                 COUNT(*) FILTER (doc_id % 5 = 0) AS n_idx
          FROM documents
        )
        SELECT 'docs.example.org' AS host, 'doc3' AS rule_name,
               CAST(n_ruled AS BIGINT) AS n_pages,
               CAST(n_idx AS BIGINT) AS n_errors,
               ROUND(CAST(n_idx AS DOUBLE) / CAST(n_ruled AS DOUBLE), 4)
                 AS err_rate,
               'InvalidSchemaError' AS top_error,
               CASE WHEN n_idx >= 0.5 * n_ruled THEN 'broken'
                    WHEN n_idx >= 0.05 * n_ruled THEN 'degraded'
                    ELSE 'healthy' END AS verdict
        FROM m
        UNION ALL
        SELECT 'norule.example.org', '<none>',
               CAST(n_norule AS BIGINT), CAST(n_norule AS BIGINT),
               1.0, 'RuleNotFoundError', 'broken'
        FROM m
    """)
def q_extraction_health(spark, sf_dir):
    """Extraction-health rollup (engine/health.py extraction_health)
    over REAL engine output: m=id%5 — m=1 pages live on an unruled
    host (RuleNotFoundError, rule '<none>'); m=0 pages carry a 1-word
    body so the rule's __schema__ guard fails (InvalidSchemaError as
    data — chain exceptions are VALUES, reference parity; the schema
    rule is what turns them into page errors); the rest extract
    cleanly.  The oracle predicts both health rows (rates, dominant
    kind, verdicts) analytically from the synthesis."""
    from .engine.health import extraction_health

    docs = tp(spark, sf_dir, "documents")
    d = F.col("doc_id")
    m = d % 5
    url = F.concat(
        F.when(m == 1, F.lit("https://norule.example.org/d/")).otherwise(
            F.lit(f"https://{_DOCS_HOST}/d/")
        ),
        d.cast("string"),
    )
    text = F.when(m == 0, F.lit("xx")).otherwise(F.col("text"))
    pages = docs.select(url.alias("url"), text.alias("text"))
    third_chain = [["re", "[a-z]+", ""], ["python", "getitem", "[2]"]]
    storage = _single_host_storage(
        _DOCS_HOST,
        "doc3",
        rf"^https://docs\.example\.org/d/\d+$",
        [
            {"name": "third", "chain_rules": third_chain, "child_rules": []},
            {
                "name": "__schema__",
                "chain_rules": third_chain
                + [["udf", "isinstance(obj, str)", ""]],
                "child_rules": [],
            },
        ],
    )
    return extraction_health(extract_pages(pages, storage))


@query(r"""
        SELECT CASE WHEN doc_id % 2 = 0
                 THEN 'https://feed.example.org/r/' || doc_id || '?x=1&y=2'
                 ELSE 'https://feed.example.org/a/' || doc_id || '?x=1&y=2'
               END AS url,
               CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS fmt,
               'Post ' || doc_id || ' & <news>' AS title,
               CAST(epoch(TIMESTAMP '2026-01-01') AS BIGINT)
                 + (doc_id % 28) * 86400 + (doc_id % 24) * 3600 AS pub_epoch,
               'urn:item:' || doc_id AS guid
        FROM documents
    """)
def q_feed_scan(spark, sf_dir):
    """RSS/Atom feed connector (sources/feed.py) round-trip: each
    partition's even doc_ids are encoded as one RSS 2.0 channel
    (RFC-822 pubDate) and odd ids as one Atom feed (ISO-8601 updated),
    then parsed back through the connector parser — one Arrow-batched
    mapInPandas, no shuffle.  Titles and URLs carry '&'/'<' so an
    escaping slip breaks parity; the oracle re-predicts every typed
    field straight from doc_id."""
    import pandas as pd
    from datetime import datetime, timedelta, timezone

    from .sources.feed import build_atom, build_rss, parse_feed

    base = datetime(2026, 1, 1, tzinfo=timezone.utc)
    docs = tp(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(batches):
        for b in batches:
            def entry(i):
                side = "r" if i % 2 == 0 else "a"
                return {
                    "loc": f"https://feed.example.org/{side}/{i}?x=1&y=2",
                    "title": f"Post {i} & <news>",
                    "pub": base + timedelta(days=i % 28, hours=i % 24),
                    "guid": f"urn:item:{i}",
                }

            ids = [int(i) for i in b["doc_id"]]
            rss = build_rss("chan & one", [entry(i) for i in ids if i % 2 == 0])
            atom = build_atom("feed <two>", [entry(i) for i in ids if i % 2 == 1])
            items = parse_feed(rss) + parse_feed(atom)
            yield pd.DataFrame(
                {
                    "url": [it["loc"] for it in items],
                    "fmt": [it["fmt"] for it in items],
                    "title": [it["title"] for it in items],
                    "pub_epoch": pd.Series(
                        [int(it["pub"].timestamp()) for it in items],
                        dtype="int64",
                    ),
                    "guid": [it["guid"] for it in items],
                }
            )

    return docs.mapInPandas(
        roundtrip,
        schema="url string, fmt string, title string, pub_epoch long, guid string",
    )


@query(rf"""
        WITH per AS (
          SELECT lang AS stratum, COUNT(*) AS n_docs,
                 CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang
        ),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per),
        powed AS (
          SELECT stratum, n_docs, n_tokens,
                 CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS p,
                 pow(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 0.3)
                   AS pa
          FROM per, tot
        ),
        z AS (
          SELECT list_reduce(
                   list_transform(
                     list_sort(list(struct_pack(stratum := stratum,
                                                pa := pa))),
                     x -> x.pa),
                   (a, b) -> a + b) AS z
          FROM powed
        )
        SELECT stratum, n_docs, n_tokens, ROUND(p, 4) AS p,
               ROUND(pa / z, 4) AS q,
               ROUND((pa / z) / p, 4) AS multiplier
        FROM powed, z
    """)
def q_temperature_mix(spark, sf_dir):
    """Temperature sampling rates (textops/mix.py temperature_mix):
    q_s ∝ p_s^0.3 over per-language token mass — the XLM-R mixing
    recipe; z normalized by a SORTED sequential fold so float
    accumulation order is engine-independent."""
    from .textops.mix import temperature_mix

    return temperature_mix(tp(spark, sf_dir, "documents"), alpha=0.3)


@query(rf"""
        WITH t AS (SELECT {_TOKS} AS tk FROM documents),
        g AS (
          SELECT UNNEST(list_transform(range(1, len(tk)),
                   i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS u
          FROM t WHERE len(tk) >= 2
        ),
        pairs AS (
          SELECT u.w1 AS w1, u.w2 AS w2, COUNT(*) AS cnt
          FROM g GROUP BY u.w1, u.w2
        ),
        typed AS (
          SELECT w1, w2, cnt,
                 COUNT(*) OVER (PARTITION BY w2) AS n_left_types,
                 COUNT(*) OVER (PARTITION BY w1) AS n_right_types,
                 CAST(row_number() OVER (ORDER BY cnt DESC, w1, w2)
                      AS INTEGER) AS rank
          FROM pairs
        )
        SELECT w1, w2, cnt, n_left_types, n_right_types, rank
        FROM typed WHERE rank <= 100
    """)
def q_ngram_lm(spark, sf_dir):
    """Kneser-Ney bigram count tables (textops/mix.py ngram_lm_counts):
    pair counts + both continuation type counts — the inputs a KenLM-
    style corpus quality model is estimated from.  One combined
    shuffle of token pairs; continuation counts are windows over the
    aggregated zipf head."""
    from .textops.mix import ngram_lm_counts

    return ngram_lm_counts(tp(spark, sf_dir, "documents"), top_k=100)


# ------------------------------------------------------- streaming surface
# Each stream_* query runs a REAL Structured Streaming query (readStream
# file source -> transformation -> checkpointed sink, drained with
# availableNow) and returns the drained result as a batch DataFrame, so
# its oracle value-checks the streaming surface like a batch operator.
# Reference semantics: the crawl loop's incremental fetch+parse
# (crawler.py:156-189).  Inputs derive deterministically from the
# documents table (no wall clock, no randomness), so the oracles are
# plain SQL over the same parquet.
def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file-source stream (explicit schema: the
    streaming source cannot infer, and an explicit schema doubles as
    projection).  The file-stream source requires a DIRECTORY, so the
    single parquet file is symlinked into a temp dir (no copy)."""
    src = os.path.abspath(f"{sf_dir}/documents.parquet")
    stream_dir = tempfile.mkdtemp(prefix="us_docs_stream_")
    os.symlink(src, os.path.join(stream_dir, "documents.parquet"))
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(stream_dir)


def _doc_url(host_expr) -> F.Column:
    return F.concat(F.lit("https://"), host_expr, F.lit("/d/"), F.col("doc_id").cast("string"))


def _await(handle) -> None:
    if not handle.awaitTermination(300):
        handle.stop()
        raise TimeoutError("streaming query did not drain within 300 s")


# Spark's tumbling window aligns to the epoch: floor(epoch/3600)*3600.
@query(f"""
        SELECT CAST(make_timestamp(
                 (({BASE_EPOCH} + doc_id * 60) // 3600) * 3600 * 1000000
               ) AS VARCHAR) AS win_start,
               'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
               COUNT(*) AS n_pages,
               CAST(SUM(length(text)) AS BIGINT) AS bytes_text
        FROM documents
        GROUP BY 1, 2
    """)
def q_stream_host_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed per-host page rates with a watermark, drained
    with ``availableNow`` into a complete-mode memory sink; the final
    state is the oracle-checkable aggregate.  Timestamps derive from
    doc_id (BASE_EPOCH + doc_id minutes) so window starts are
    SQL-computable; session tz pinned UTC so the tz-aware window op is
    wall-clock-stable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.org"))
    ts = F.timestamp_seconds(F.lit(BASE_EPOCH) + F.col("doc_id") * 60)
    pages = _docs_stream(spark, sf_dir).select(
        _doc_url(host).alias("url"), ts.alias("warc_ts"), F.col("text")
    )
    metrics = host_rate_metrics(pages)
    name = f"stream_host_rates_{uuid.uuid4().hex[:8]}"
    q = (
        metrics.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    return spark.table(name).select(
        F.col("win_start").cast("timestamp_ntz").cast("string").alias("win_start"),
        "host",
        "n_pages",
        "bytes_text",
    )


@query(_DEVOWEL_SQL)
def q_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused compiled-rule extraction running INSIDE a streaming
    query (micro-batched mapInPandas) with a checkpointed parquet sink;
    the drained sink must match the batch regex oracle byte-for-byte."""
    pages = _docs_stream(spark, sf_dir).select(
        _doc_url(F.lit("docs.example.org")).alias("url"), F.col("text")
    )
    storage = _single_host_storage(
        "docs.example.org",
        "r",
        r"^https://docs\.example\.org/d/\d+$",
        [{"name": "s", "chain_rules": [["re", "[aeiou]", "@_"]], "child_rules": []}],
    )
    base = tempfile.mkdtemp(prefix="us_stream_extract_")
    out_dir, ck = os.path.join(base, "out"), os.path.join(base, "ck")
    _await(run_to_parquet(extract_pages(pages, storage), out_dir, ck))
    return spark.read.parquet(out_dir).select(
        "url", F.get_json_object("result", "$.r.s").alias("devoweled")
    )


@query("""
        SELECT DISTINCT 'https://docs.example.org/d/' || doc_id AS url
        FROM documents
    """)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful cross-micro-batch URL dedup: the same URL set is landed
    TWICE as separate files, drained in >=2 micro-batches
    (maxFilesPerTrigger), and ``applyInPandasWithState`` must pass each
    URL through exactly once — the streaming twin of the frontier's
    seen anti-join.  Output (one row per distinct URL) is order- and
    winner-independent, hence oracle-stable."""
    urls = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(_doc_url(F.lit("docs.example.org")).alias("url"))
    )
    base = tempfile.mkdtemp(prefix="us_stream_dedup_")
    in_dir, out_dir, ck = (os.path.join(base, d) for d in ("in", "out", "ck"))
    for _ in range(2):  # two lands = duplicate arrivals in later batches
        urls.coalesce(2).write.mode("append").parquet(in_dir)
    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
    )
    _await(run_to_parquet(dedup_stream(stream, n_buckets=8), out_dir, ck))
    return spark.read.parquet(out_dir).select("url")


# streaming link extraction drains to the same rows as the batch op
@query(_LINKS_SQL)
def q_stream_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text link extraction running INSIDE a streaming query:
    the same one-Arrow-crossing DOM walk (crawl/links.py) composes with
    readStream unchanged (mapInPandas is micro-batch-transparent), so
    link discovery keeps up with page arrival — the incremental half of
    the crawl loop's frontier expansion.  Drained sink must match the
    batch links_extract oracle field-for-field."""
    from .crawl.links import links_from_html

    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example.org"))
    url = F.concat(F.lit("https://"), host, F.lit("/d/"), d.cast("string"))
    html = F.concat(
        F.lit('<html><body><p>intro</p><a href="/d/'),
        (d * 2).cast("string"),
        F.lit('">next  <b>item</b></a><a href="https://ext.example.net/e/'),
        d.cast("string"),
        F.lit('?x=1" rel="nofollow">ext '),
        d.cast("string"),
        F.lit('</a><a href="#top">skip</a></body></html>'),
    )
    pages = _docs_stream(spark, sf_dir).select(url.alias("url"), html.alias("html"))
    base = tempfile.mkdtemp(prefix="us_stream_links_")
    out_dir, ck = os.path.join(base, "out"), os.path.join(base, "ck")
    _await(run_to_parquet(links_from_html(pages), out_dir, ck))
    return spark.read.parquet(out_dir)


@query("""
        SELECT 'https://m.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
               CAST(CASE WHEN doc_id % 5 IN (2, 3) THEN 1 ELSE 0 END AS INT)
                 AS nofollow,
               CAST(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS INT)
                 AS noarchive
        FROM documents
        WHERE doc_id % 5 NOT IN (1, 3, 4)
    """)
def q_stream_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus admission INSIDE a streaming query: per-page robots
    directives (frontier/robots.page_directives — the same DOM walk the
    batch op runs) composed with readStream, noindex pages filtered
    before the sink.  The synthesis mirrors q_page_directives (five
    meta/header regimes incl. a decoy description meta); the drained
    sink holds exactly the admitted pages with their remaining flags."""
    from .frontier.robots import page_directives

    d = F.col("doc_id")
    url = F.concat(F.lit("https://m.example.org/p/"), d.cast("string"))
    meta = (
        F.when(d % 5 == 1, F.lit('<meta name="robots" content="noindex">'))
        .when(d % 5 == 2, F.lit('<meta content="NOFOLLOW , noarchive" name="ROBOTS">'))
        .when(d % 5 == 3, F.lit('<meta name="robots" content="none">'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit('<html><head><meta name="description" content="nofollow">'),
        meta,
        F.lit("</head><body>p"),
        d.cast("string"),
        F.lit("</body></html>"),
    )
    header = F.when(d % 5 == 4, F.lit("noindex")).otherwise(
        F.lit(None).cast("string")
    )
    pages = _docs_stream(spark, sf_dir).select(
        url.alias("url"), html.alias("html"), header.alias("xrt")
    )
    admitted = page_directives(pages, header_col="xrt").filter(
        F.col("noindex") == 0
    )
    base = tempfile.mkdtemp(prefix="us_stream_admission_")
    out_dir, ck = os.path.join(base, "out"), os.path.join(base, "ck")
    _await(run_to_parquet(admitted, out_dir, ck))
    return spark.read.parquet(out_dir).select("url", "nofollow", "noarchive")


@query("""
        WITH e AS (
          SELECT 'h' || (doc_id % 7) AS host,
                 (1580732985 + (doc_id // 7) * 60
                  + ((doc_id // 7) // 10) * 3600) * 1000000 AS us,
                 doc_id AS event_id
          FROM documents),
        n AS (
          SELECT host, event_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM e
          WINDOW w AS (PARTITION BY host ORDER BY us, event_id)),
        s AS (
          SELECT host, event_id, us,
                 SUM(ns) OVER (PARTITION BY host ORDER BY us, event_id)
                   AS session_id
          FROM n)
        SELECT host, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events, MIN(event_id) AS first_event,
               MIN(us) AS start_us, MAX(us) AS end_us,
               (MAX(us) - MIN(us)) // 1000000 AS duration_sec
        FROM s GROUP BY host, session_id
    """)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization INSIDE a streaming query (streaming.py
    session_stream, applyInPandasWithState with O(1) per-key state):
    a fetch log over 7 hosts (per-host sequence k = doc_id div 7,
    60 s cadence, an hour jump every 10th event) lands as THREE
    time-ordered files drained one per micro-batch — the k=20..29
    session straddles the batch boundary, so cross-batch state carry
    is exercised for real — then a per-host flush sentinel closes the
    tails.  The drained sink must equal the batch sessionize oracle
    row-for-row."""
    from .streaming import session_stream

    d = F.col("doc_id")
    k = F.expr("doc_id div 7")
    ev = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("h"), (d % 7).cast("string")).alias("host"),
        F.timestamp_seconds(
            F.lit(BASE_EPOCH) + k * 60 + F.expr("(doc_id div 7) div 10") * 3600
        ).alias("ts"),
        d.alias("event_id"),
        F.lit(0).alias("flush"),
        k.alias("_k"),
    )
    sentinels = ev.select("host").distinct().select(
        "host",
        F.timestamp_seconds(F.lit(BASE_EPOCH + 10_000_000)).alias("ts"),
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(1).alias("flush"),
    )
    base = tempfile.mkdtemp(prefix="us_stream_sessions_")
    in_dir, out_dir, ck = (os.path.join(base, p) for p in ("in", "out", "ck"))
    cols = ["host", "ts", "event_id", "flush"]

    def land(df, stamp):
        # the file source orders micro-batches by mtime; rapid writes can
        # collide on coarse filesystem timestamps, so pin them explicitly
        before = set(os.listdir(in_dir)) if os.path.isdir(in_dir) else set()
        df.coalesce(1).write.mode("append").parquet(in_dir)
        for name in set(os.listdir(in_dir)) - before:
            os.utime(os.path.join(in_dir, name), (stamp, stamp))

    land(ev.filter(F.col("_k") < 25).select(cols), 1_000_000_000)
    land(ev.filter(F.col("_k") >= 25).select(cols), 1_000_000_100)
    land(sentinels, 1_000_000_200)
    stream = (
        spark.readStream.schema(
            "host string, ts timestamp, event_id long, flush int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    _await(
        run_to_parquet(
            session_stream(stream), out_dir, ck
        )
    )
    return spark.read.parquet(out_dir)


@query("""
        WITH rep AS (
          SELECT 'h' || (doc_id % 11) AS host, count(*) AS n_prior,
                 ROUND(1 - SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                           / CAST(count(*) AS DOUBLE), 6) AS rep_score
          FROM documents GROUP BY 1),
        ev AS (
          SELECT 'https://h' || (doc_id % 11) || '/d/' || doc_id AS url,
                 'h' || (doc_id % 11) AS host,
                 CASE WHEN doc_id % 9 = 0 THEN 503
                      WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS status
          FROM documents)
        SELECT e.url, e.host, CAST(e.status AS INT) AS status,
               r.n_prior, r.rep_score,
               CASE WHEN e.status >= 500 AND r.rep_score < 0.9
                      THEN 'backoff_host'
                    WHEN e.status >= 500 THEN 'retry_url'
                    WHEN e.status = 404 THEN 'drop'
                    ELSE 'ok' END AS action
        FROM ev e LEFT JOIN rep r ON e.host = r.host
    """)
def q_stream_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN: fetch events arriving as a stream are
    triaged against a static per-host reputation table computed in
    batch (the deployment shape: frontier events stream in, the
    reputation rollup is last round's materialized table).  The static
    side broadcasts under every micro-batch — no stream-side shuffle —
    and the triage CASE is pure codegen.  5xx on a low-reputation host
    backs off the whole host; 5xx on a healthy host just retries the
    URL; 404s drop.  Drained sink must equal the batch join oracle."""
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 11).cast("string"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = (
        docs.select(host.alias("host"), d.alias("_d"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_prior"),
            F.sum((F.col("_d") % 7 == 0).cast("int")).alias("_bad"),
        )
        .select(
            "host",
            "n_prior",
            F.round(1 - F.col("_bad") / F.col("n_prior"), 6).alias("rep_score"),
        )
    )
    status = (
        F.when(d % 9 == 0, F.lit(503))
        .when(d % 13 == 0, F.lit(404))
        .otherwise(F.lit(200))
    )
    events = _docs_stream(spark, sf_dir).select(
        _doc_url(host).alias("url"), host.alias("host"), status.alias("status")
    )
    joined = events.join(F.broadcast(rep), "host", "left")
    action = (
        F.when((F.col("status") >= 500) & (F.col("rep_score") < 0.9), F.lit("backoff_host"))
        .when(F.col("status") >= 500, F.lit("retry_url"))
        .when(F.col("status") == 404, F.lit("drop"))
        .otherwise(F.lit("ok"))
    )
    out = joined.select(
        "url", "host", "status", "n_prior", "rep_score", action.alias("action")
    )
    base = tempfile.mkdtemp(prefix="us_stream_triage_")
    out_dir, ck = os.path.join(base, "out"), os.path.join(base, "ck")
    _await(run_to_parquet(out, out_dir, ck))
    return spark.read.parquet(out_dir)


# --------------------------------------------- IP networks, sampling, link spam
def _synth_hosts(spark, sf_dir):
    """499 deterministic hosts derived from the documents table — the
    shared fixture for the IP-network queries."""
    return (
        tp(spark, sf_dir, "documents")
        .select(
            F.concat(
                F.lit("h"),
                (F.col("doc_id") % 499).cast("string"),
                F.lit(".example.org"),
            ).alias("host")
        )
        .distinct()
    )


# asn_tag's oracle is the TEXTBOOK range join — plain BETWEEN theta
# join — so the bucketed equi-join plan is proven value-equivalent.
@query(_IPS_SQL + r"""
    , b AS (
      SELECT ('0x' || substr(md5('asnb:' || CAST(i AS VARCHAR)), 1, 6))::BIGINT
             AS ip_lo
      FROM range(64) t(i)
      UNION SELECT 0),
    r AS (
      SELECT CAST(row_number() OVER (ORDER BY ip_lo) AS INT) AS asn_id,
             ip_lo,
             lead(ip_lo, 1, 16777216) OVER (ORDER BY ip_lo) AS ip_hi
      FROM (SELECT DISTINCT ip_lo FROM b))
    SELECT host, ip24, shared, asn_id, ip_lo, ip_hi
    FROM ips JOIN r ON ip24 >= ip_lo AND ip24 < ip_hi
""")
def q_asn_tag(spark, sf_dir):
    """IP -> ASN range join, bucketed (crawl/ipnet.py
    tag_hosts_with_asn): hosts resolve to deterministic md5-derived
    ip24 addresses (shared-hosting model: most hosts land on 24
    provider IPs), a 64-boundary non-uniform range table partitions the
    address space, and each host is tagged via prefix-bucket equi-join
    + residual range filter — the scale shape for a range join (the
    naive BETWEEN theta-join Catalyst would run as a nested loop).  The
    oracle IS that naive BETWEEN join, so the bucketed plan is proven
    equivalent to the textbook semantics."""
    from .crawl.ipnet import asn_ranges, assign_hosting_ips, tag_hosts_with_asn

    hosts = assign_hosting_ips(_synth_hosts(spark, sf_dir))
    return tag_hosts_with_asn(hosts, asn_ranges(spark))


@query(_IPS_SQL + r"""
    SELECT host, ip24,
      CAST(count(*) OVER (PARTITION BY ip24) AS INT) AS n_cohosted,
      CAST(60 // (count(*) OVER (PARTITION BY ip24))
           + CASE WHEN row_number() OVER (PARTITION BY ip24 ORDER BY host)
                       <= 60 % (count(*) OVER (PARTITION BY ip24))
                  THEN 1 ELSE 0 END AS INT) AS host_rate
    FROM ips
""")
def q_ip_politeness(spark, sf_dir):
    """Shared-IP politeness split (crawl/ipnet.py shared_ip_budget):
    hosts co-located on one server IP share its 60-fetch window budget
    exactly — integer quotient per host, remainder to the first hosts
    in host order, so the cohort sum is exactly the server budget."""
    from .crawl.ipnet import assign_hosting_ips, shared_ip_budget

    hosts = assign_hosting_ips(_synth_hosts(spark, sf_dir))
    return shared_ip_budget(hosts.drop("shared"))


@query(r"""
    WITH reps AS (
      SELECT doc_id, lang AS stratum,
             CAST(doc_id % 4 + 1 AS INT) AS weight,
             unnest(range(doc_id % 4 + 1)) AS r
      FROM documents),
    draws AS (
      SELECT doc_id, stratum, weight,
        ('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR) || ':'
                            || CAST(r AS VARCHAR)), 1, 6))::BIGINT AS draw
      FROM reps),
    keyed AS (
      SELECT doc_id, stratum, weight, min(draw) AS draw_key
      FROM draws GROUP BY 1, 2, 3),
    ranked AS (
      SELECT doc_id, stratum, weight, draw_key,
        CAST(row_number() OVER (PARTITION BY stratum
                                ORDER BY draw_key, doc_id) AS INT) AS rk
      FROM keyed)
    SELECT doc_id, stratum, weight, draw_key, rk FROM ranked WHERE rk <= 20
""")
def q_weighted_sample(spark, sf_dir):
    """Exact weighted sampling without replacement (textops/mix.py
    weighted_sample): 20 docs per language with odds proportional to an
    integer weight (doc_id%4+1), via the integer Efraimidis-Spirakis
    scheme — w md5 draws per doc, min draw is the doc's key, k smallest
    keys per stratum win.  All-integer: the kept set is identical from
    any engine or partitioning."""
    from .textops.mix import weighted_sample

    return weighted_sample(tp(spark, sf_dir, "documents"), k=20)


@query(r"""
    WITH u AS (SELECT DISTINCT doc_id % 127 AS uid FROM documents),
    s AS (SELECT uid, unnest(range(8)) AS r FROM u),
    c AS (
      SELECT uid, r,
        CASE WHEN r = 0
               OR ('0x' || substr(md5('chg:' || CAST(uid AS VARCHAR) || ':'
                                      || CAST(r AS VARCHAR)), 1, 2))::BIGINT
                  < 96
             THEN 1 ELSE 0 END AS chg
      FROM s),
    lc AS (
      SELECT uid, r,
        'https://h' || CAST(uid % 7 AS VARCHAR) || '.example.org/p/'
          || CAST(uid AS VARCHAR) AS url,
        max(CASE WHEN chg = 1 THEN r END) OVER (
          PARTITION BY uid ORDER BY r
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_change
      FROM c),
    snap AS (
      SELECT url, CAST(r AS INT) AS round,
             substr(md5(url || '#' || CAST(last_change AS VARCHAR)), 1, 8)
               AS content_fp
      FROM lc),
    flag AS (
      SELECT url, round, content_fp,
        CASE WHEN lag(content_fp) OVER (PARTITION BY url ORDER BY round)
                  IS DISTINCT FROM content_fp
             THEN 1 ELSE 0 END AS chg
      FROM snap),
    isl AS (
      SELECT url, round, content_fp,
        sum(chg) OVER (PARTITION BY url ORDER BY round
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS island
      FROM flag),
    iv AS (
      SELECT url, island,
             min(content_fp) AS content_fp,
             CAST(min(round) AS INT) AS valid_from,
             CAST(max(round) AS INT) AS valid_to,
             CAST(count(*) AS INT) AS n_rounds
      FROM isl GROUP BY url, island)
    SELECT url, content_fp, valid_from, valid_to, n_rounds,
           CAST(valid_to = max(valid_to) OVER (PARTITION BY url) AS INT)
             AS is_current
    FROM iv
""")
def q_scd2_pages(spark, sf_dir):
    """Page-version SCD-2 fold (frontier/freshness.py scd2_history):
    127 urls x 8 fetch rounds with md5-gated content changes (~37%/
    round, round 0 always a version start) fold into validity
    intervals via gaps-and-islands — the recrawl corpus' "page as-of
    round r" index."""
    from .frontier.freshness import scd2_history

    docs = tp(spark, sf_dir, "documents")
    u = docs.select((F.col("doc_id") % 127).alias("uid")).distinct()
    s = u.select("uid", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("r"))
    chg_h = F.md5(
        F.concat(
            F.lit("chg:"),
            F.col("uid").cast("string"),
            F.lit(":"),
            F.col("r").cast("string"),
        )
    )
    chg = (F.col("r") == 0) | (
        F.conv(F.substring(chg_h, 1, 2), 16, 10).cast("int") < 96
    )
    run = Window.partitionBy("uid").orderBy("r").rowsBetween(
        Window.unboundedPreceding, 0
    )
    url = F.concat(
        F.lit("https://h"),
        (F.col("uid") % 7).cast("string"),
        F.lit(".example.org/p/"),
        F.col("uid").cast("string"),
    )
    snap = (
        s.select(
            "uid",
            "r",
            url.alias("url"),
            F.max(F.when(chg, F.col("r"))).over(run).alias("last_change"),
        )
        .select(
            F.col("url"),
            F.col("r").cast("int").alias("round"),
            F.substring(
                F.md5(
                    F.concat(
                        F.col("url"),
                        F.lit("#"),
                        F.col("last_change").cast("string"),
                    )
                ),
                1,
                8,
            ).alias("content_fp"),
        )
    )
    return scd2_history(snap, url_col="url")


# spam mass: the pagerank3 and trustrank closed forms side by side on
# the shared edge set, joined; the ratio uses the PUBLISHED rounded
# signals so cross-engine float behavior is exactly theirs.
@query(_GRAPH_SQL + r"""
    , nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
    , deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
    , r0 AS (SELECT doc_id AS node, 1.0 / n AS rank FROM documents, nd)
    , c1 AS (SELECT e.dst AS node, sum(r.rank / d.outdeg) AS c
             FROM edges e JOIN r0 r ON e.src = r.node
                          JOIN deg d ON e.src = d.src GROUP BY e.dst)
    , r1 AS (SELECT d.doc_id AS node,
               (1 - CAST(0.85 AS DOUBLE)) / n
               + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS rank
             FROM documents d LEFT JOIN c1 c ON d.doc_id = c.node, nd)
    , c2 AS (SELECT e.dst AS node, sum(r.rank / d.outdeg) AS c
             FROM edges e JOIN r1 r ON e.src = r.node
                          JOIN deg d ON e.src = d.src GROUP BY e.dst)
    , r2 AS (SELECT d.doc_id AS node,
               (1 - CAST(0.85 AS DOUBLE)) / n
               + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS rank
             FROM documents d LEFT JOIN c2 c ON d.doc_id = c.node, nd)
    , c3 AS (SELECT e.dst AS node, sum(r.rank / d.outdeg) AS c
             FROM edges e JOIN r2 r ON e.src = r.node
                          JOIN deg d ON e.src = d.src GROUP BY e.dst)
    , r3 AS (SELECT d.doc_id AS node,
               (1 - CAST(0.85 AS DOUBLE)) / n
               + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS rank
             FROM documents d LEFT JOIN c3 c ON d.doc_id = c.node, nd)
    , sd AS (SELECT doc_id AS node FROM documents WHERE doc_id % 97 = 0)
    , ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM sd)
    , tb AS (SELECT d.doc_id AS node,
               CASE WHEN s.node IS NULL THEN 0.0 ELSE 1.0 / ns.k END AS d
             FROM documents d LEFT JOIN sd s ON d.doc_id = s.node, ns)
    , tc1 AS (SELECT e.dst AS node, sum(t.d / g.outdeg) AS c
              FROM edges e JOIN tb t ON e.src = t.node
                           JOIN deg g ON e.src = g.src GROUP BY e.dst)
    , t1 AS (SELECT b.node,
               (1 - CAST(0.85 AS DOUBLE)) * b.d
               + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS trust
             FROM tb b LEFT JOIN tc1 c ON b.node = c.node)
    , tc2 AS (SELECT e.dst AS node, sum(t.trust / g.outdeg) AS c
              FROM edges e JOIN t1 t ON e.src = t.node
                           JOIN deg g ON e.src = g.src GROUP BY e.dst)
    , t2 AS (SELECT b.node,
               (1 - CAST(0.85 AS DOUBLE)) * b.d
               + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS trust
             FROM tb b LEFT JOIN tc2 c ON b.node = c.node)
    , tc3 AS (SELECT e.dst AS node, sum(t.trust / g.outdeg) AS c
              FROM edges e JOIN t2 t ON e.src = t.node
                           JOIN deg g ON e.src = g.src GROUP BY e.dst)
    , t3 AS (SELECT b.node,
               (1 - CAST(0.85 AS DOUBLE)) * b.d
               + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0.0) AS trust
             FROM tb b LEFT JOIN tc3 c ON b.node = c.node)
    SELECT r3.node,
           ROUND(r3.rank, 6) AS rank,
           ROUND(t3.trust, 8) AS trust,
           ROUND(greatest(0.0,
                 1.0 - ROUND(t3.trust, 8) / ROUND(r3.rank, 6)), 6)
             AS spam_mass,
           CAST(r3.node % 97 = 0 AS INT) AS is_seed
    FROM r3 JOIN t3 ON r3.node = t3.node
""")
def q_spam_mass(spark, sf_dir):
    """Spam mass (graph.py spam_mass): the fraction of a node's
    PageRank not backed by TrustRank mass from the %97 seed set —
    1 - trust/rank over the two PUBLISHED (rounded) signals, clamped
    to [0,1].  Same 3-iteration edge set as pagerank3/trustrank, so
    the oracle is both closed forms joined."""
    from .graph import spam_mass

    edges, nodes, n = _graph_inputs(spark, sf_dir)
    seeds = nodes.filter(F.col("node") % 97 == 0)
    return spam_mass(edges, nodes, n, seeds)


@query(r"""
    WITH u AS (SELECT DISTINCT doc_id % 23 AS uid FROM documents),
    s AS (SELECT uid, unnest(range(8)) AS r FROM u),
    o AS (
      SELECT uid, r,
        CASE WHEN ('0x' || substr(md5('aimd:' || CAST(uid AS VARCHAR) || ':'
                                      || CAST(r AS VARCHAR)), 1, 2))::BIGINT
                  < 200
             THEN 1 ELSE 0 END AS ok
      FROM s),
    per AS (
      SELECT uid, count(*) AS n_rounds, sum(1 - ok) AS n_errs,
             list(ok ORDER BY r) AS moves
      FROM o GROUP BY uid)
    SELECT 'h' || CAST(uid AS VARCHAR) || '.example.org' AS host,
      CAST(n_rounds AS INT) AS n_rounds,
      CAST(n_errs AS INT) AS n_errs,
      CAST(list_reduce(list_prepend(4, moves),
           (acc, x) -> CASE WHEN x = 1 THEN least(8, acc + 1)
                            ELSE greatest(1, acc // 2) END) AS INT)
        AS final_rate
    FROM per
""")
def q_aimd_rates(spark, sf_dir):
    """AIMD politeness fold (frontier/politeness.py aimd_rates): 23
    hosts x 8 rounds of md5-gated fetch outcomes (~78% ok) folded
    through additive-increase (+1 to cap 8) / multiplicative-decrease
    (halve to floor 1) from base rate 4 — a genuine non-linear
    recurrence run as F.aggregate, mirrored by DuckDB list_reduce."""
    from .frontier.politeness import aimd_rates

    docs = tp(spark, sf_dir, "documents")
    u = docs.select((F.col("doc_id") % 23).alias("uid")).distinct()
    s = u.select("uid", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("r"))
    ok_h = F.md5(
        F.concat(
            F.lit("aimd:"),
            F.col("uid").cast("string"),
            F.lit(":"),
            F.col("r").cast("string"),
        )
    )
    outcomes = s.select(
        F.concat(
            F.lit("h"), F.col("uid").cast("string"), F.lit(".example.org")
        ).alias("host"),
        F.col("r").alias("round"),
        (F.conv(F.substring(ok_h, 1, 2), 16, 10).cast("int") < 200)
        .cast("int")
        .alias("ok"),
    )
    return aimd_rates(outcomes, base_rate=4, cap=8)


@query(r"""
    WITH c AS (
      SELECT lang AS v,
        CAST((row_number() OVER (ORDER BY lang, doc_id) - 1) // 64 AS INT)
          AS file_id
      FROM documents),
    h AS (
      SELECT lang AS v,
        CAST((row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // 64
             AS INT) AS file_id
      FROM documents),
    u AS (
      SELECT 'clustered' AS layout, file_id, min(v) AS f_min,
             max(v) AS f_max, CAST(count(*) AS INT) AS n_rows
      FROM c GROUP BY file_id
      UNION ALL
      SELECT 'hashed' AS layout, file_id, min(v) AS f_min,
             max(v) AS f_max, CAST(count(*) AS INT) AS n_rows
      FROM h GROUP BY file_id)
    SELECT layout, file_id, f_min, f_max, n_rows,
           CAST(f_min <= 'en' AND 'en' <= f_max AS INT) AS contains
    FROM u
""")
def q_layout_pruning(spark, sf_dir):
    """Write-layout pruning audit (sources/layout.py pruning_audit):
    per-file lang min/max envelopes at 64 rows/file under a
    lang-clustered vs a hash-ordered write, and whether a reader
    scanning lang='en' can skip each file on footer stats alone."""
    from .sources.layout import pruning_audit

    return pruning_audit(
        tp(spark, sf_dir, "documents"),
        predicate_value="en",
        file_rows=64,
    )


# HLL: identical 60-bit md5 hash, register split via shift/modulo,
# rho from minimal-width bin(), and the exact scaled-integer Z sum —
# every published column is bit-reproducible, so this hash-matches.
@query(r"""
    WITH v AS (
      SELECT 'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.org' AS key,
             'https://x.example.org/u/' || CAST((doc_id * 13) % 211 AS VARCHAR)
               AS val
      FROM documents),
    hh AS (
      SELECT key, val,
             ('0x' || substr(md5(val), 1, 15))::BIGINT AS h
      FROM v),
    r AS (
      SELECT key, val, CAST(h % 64 AS INT) AS reg,
             CASE WHEN (h >> 6) = 0 THEN 55
                  ELSE 55 - length(bin(h >> 6)) END AS rho
      FROM hh),
    regs AS (
      SELECT key, reg, max(rho) AS mx, count(DISTINCT val) AS nd
      FROM r GROUP BY key, reg),
    per AS (
      SELECT key, CAST(count(*) AS INT) AS n_present,
             sum(CAST(pow(2.0, 55 - mx) AS BIGINT)) AS zs,
             CAST(sum(nd) AS BIGINT) AS n_exact
      FROM regs GROUP BY key),
    e AS (
      SELECT key, n_present, CAST(64 - n_present AS INT) AS n_zero,
             ROUND((0.709 * 64 * 64 * pow(2.0, 55))
                   / (zs + (64 - n_present) * 36028797018963968), 4) AS est,
             n_exact
      FROM per)
    SELECT key, 64 AS m, n_present, n_zero, est, n_exact,
           ROUND((est - n_exact) / n_exact, 4) AS err
    FROM e
""")
def q_hll_hosts(spark, sf_dir):
    """Mergeable HLL distinct sketch (frontier/sketches.py
    hll_counts): per-host URL cardinality from 64 one-byte registers
    (p=6) built on a 60-bit md5 hash, with the exact count and signed
    relative error as audit columns.  The Z accumulator is an exact
    scaled-integer sum, so est is bit-reproducible across engines and
    partitionings; DuckDB reproduces the identical registers from the
    same md5/bin primitives."""
    from .frontier.sketches import hll_counts

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    vals = docs.select(
        F.concat(
            F.lit("h"), (d % 5).cast("string"), F.lit(".example.org")
        ).alias("host"),
        F.concat(
            F.lit("https://x.example.org/u/"),
            ((d * 13) % 211).cast("string"),
        ).alias("url"),
    )
    return hll_counts(vals, "host", "url", p=6)


@query(r"""
    WITH pages AS (
      SELECT CASE WHEN doc_id % 4 = 0
               THEN 'https://h' || CAST(doc_id % 3 AS VARCHAR)
                    || '.example.org/cal/' || CAST(doc_id % 7 AS VARCHAR)
                    || '/' || CAST(doc_id % 11 AS VARCHAR)
               ELSE 'https://h' || CAST(doc_id % 3 AS VARCHAR)
                    || '.example.org/blog/' || CAST(doc_id AS VARCHAR)
             END AS url,
             CASE WHEN doc_id % 4 = 0 THEN 'the calendar page'
                  ELSE text END AS text
      FROM documents),
    segs AS (
      SELECT regexp_extract(url, '^https?://([^/?#:]+)', 1) AS host,
             list_filter(
               string_split(
                 regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1), '/'),
               x -> x <> '') AS s,
             substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
                    1, 16) AS fp
      FROM pages),
    pref AS (
      SELECT host, len(s) AS n_segs, fp, CAST(d AS INT) AS d,
             '/' || array_to_string(s[1:d], '/') AS prefix
      FROM segs, unnest(range(1, 1 + least(3, len(s)))) AS t(d))
    SELECT host, CAST(min(d) AS INT) AS depth, prefix,
           count(*) AS n_urls, count(DISTINCT fp) AS n_content,
           ROUND(1.0 - count(DISTINCT fp) / count(*), 6) AS dup_frac,
           CAST(max(n_segs) AS INT) AS max_seen_depth
    FROM pref GROUP BY host, prefix HAVING count(*) >= 2
""")
def q_path_prefixes(spark, sf_dir):
    """Browse-space rollup (crawl/dust.py path_prefix_stats): URLs
    aggregated onto every path prefix up to 3 segments with distinct-
    content ratios — localizes a trap to its subtree ('/cal' mints
    URLs over one fingerprint) instead of condemning the whole host."""
    from .crawl.dust import path_prefix_stats

    docs = tp(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    # host h0 carries a /cal trap (depth grows, one content blob);
    # every host also serves honest /blog/<id> pages
    pages = docs.select(
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("https://h"), (d % 3).cast("string"),
                F.lit(".example.org/cal/"), (d % 7).cast("string"),
                F.lit("/"), (d % 11).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("https://h"), (d % 3).cast("string"),
                F.lit(".example.org/blog/"), d.cast("string"),
            )
        ).alias("url"),
        F.when(d % 4 == 0, F.lit("the calendar page")).otherwise(
            F.col("text")
        ).alias("text"),
    )
    return path_prefix_stats(pages, min_urls=2)


@query(r"""
    WITH h AS (
      SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR)
             || '.example.org/d/' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id % 5 + 1 AS BIGINT) AS fetch_count,
             CAST(doc_id % 3 AS BIGINT) AS change_count
      FROM documents),
    base AS (
      SELECT regexp_extract(url, '^https?://([^/?#:]+)', 1) AS host,
             (change_count + 0.5) / CAST(fetch_count + 1 AS DOUBLE) AS lam
      FROM h),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS n_total, sum(lam) AS s_total
          FROM base),
    r AS (
      SELECT host, lam,
             (120.0 / n_total) / (120.0 / n_total + lam) AS fu,
             120.0 / (120.0 + s_total) AS fpr
      FROM base, t),
    per AS (
      SELECT host, count(*) AS n_urls, ROUND(sum(lam), 6) AS sum_lam,
             ROUND(avg(fu), 6) AS avg_u, ROUND(min(fu), 6) AS min_u,
             ROUND(avg(fpr), 6) AS avg_p, ROUND(min(fpr), 6) AS min_p
      FROM r GROUP BY host)
    SELECT 'uniform' AS policy, host, n_urls, sum_lam,
           avg_u AS avg_freshness, min_u AS min_freshness FROM per
    UNION ALL
    SELECT 'proportional' AS policy, host, n_urls, sum_lam,
           avg_p AS avg_freshness, min_p AS min_freshness FROM per
""")
def q_refresh_policy(spark, sf_dir):
    """Refresh-budget pricing (frontier/freshness.py
    refresh_policy_freshness): uniform vs proportional allocation of
    a 120-refresh epoch over synthesized per-URL change histories,
    scored with the engine's rational freshness model — Cho &
    Garcia-Molina's uniform-wins margin, per host."""
    from .frontier.freshness import refresh_policy_freshness

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    history = docs.select(
        F.concat(
            F.lit("https://h"), (d % 7).cast("string"),
            F.lit(".example.org/d/"), d.cast("string"),
        ).alias("url_canon"),
        (d % 5 + 1).cast("long").alias("fetch_count"),
        (d % 3).cast("long").alias("change_count"),
    )
    return refresh_policy_freshness(history, budget=120)


@query(r"""
    WITH l AS (
      SELECT 'https://h' || (doc_id % 7) || '.example.org/p/'
               || (doc_id % 50) AS src,
             CASE WHEN doc_id % 4 = 0 THEN NULL
                  ELSE 'e' || (doc_id % 9) || '.example.net' END AS ext_host,
             CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END AS external,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS nofollow,
             'a' || (doc_id % 3) AS anchor_norm
      FROM documents),
    per AS (
      SELECT src, count(*) AS n_out, sum(nofollow) AS nf,
             sum(external) AS n_external,
             count(DISTINCT ext_host) AS n_ext_hosts
      FROM l GROUP BY src),
    ta AS (
      SELECT src, max(c) AS top FROM (
        SELECT src, anchor_norm, count(*) AS c
        FROM l GROUP BY src, anchor_norm)
      GROUP BY src)
    SELECT p.src,
      CAST(p.n_out AS BIGINT) AS n_out,
      ROUND(CAST(p.nf AS DOUBLE) / p.n_out, 6) AS frac_nofollow,
      ROUND(CAST(p.n_external AS DOUBLE) / p.n_out, 6) AS frac_external,
      CAST(p.n_ext_hosts AS BIGINT) AS n_ext_hosts,
      ROUND(CASE WHEN p.n_external > 0
            THEN CAST(p.n_external - p.n_ext_hosts AS DOUBLE) / p.n_external
            ELSE 0.0 END, 6) AS ext_concentration,
      ROUND(CAST(t.top AS DOUBLE) / p.n_out, 6) AS top_anchor_share,
      ROUND((CAST(p.n_external AS DOUBLE) / p.n_out)
            * greatest(
                CAST(t.top AS DOUBLE) / p.n_out,
                CASE WHEN p.n_external > 0
                THEN CAST(p.n_external - p.n_ext_hosts AS DOUBLE)
                     / p.n_external
                ELSE 0.0 END), 6) AS farm_score
    FROM per p JOIN ta t USING (src)
""")
def q_link_spam(spark, sf_dir):
    """Per-page outlink spam profile (crawl/links.py
    link_spam_signals): pages keyed on (doc_id%7 host, doc_id%50
    path) so many docs share a src and group sizes vary; d%4==0
    links stay internal, the rest go external to e{d%9}.example.net
    (concentration varies with how many of the 9 ext hosts a group
    touches); anchors repeat on d%3, nofollow on d%5.  Oracle
    recomputes the identical aggregates in SQL over the identically
    synthesized relation."""
    from .crawl.links import link_spam_signals

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    links = docs.select(
        F.concat(
            F.lit("https://h"), (d % 7).cast("string"),
            F.lit(".example.org/p/"), (d % 50).cast("string"),
        ).alias("src"),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("https://h"), (d % 7).cast("string"),
                F.lit(".example.org/i/"), (d % 11).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("https://e"), (d % 9).cast("string"),
                F.lit(".example.net/x/"), (d % 5).cast("string"),
            )
        ).alias("dst"),
        F.concat(F.lit("a"), (d % 3).cast("string")).alias("anchor"),
        F.when(d % 5 == 0, 1).otherwise(0).alias("nofollow"),
        F.when(d % 4 == 0, 1).otherwise(0).alias("internal"),
    )
    return link_spam_signals(links, min_out=1)


@query(r"""
    WITH hosts AS (SELECT DISTINCT doc_id % 8 AS hid FROM documents),
    agents AS (SELECT * FROM (VALUES ('goodbot'), ('fastbot')) t(agent)),
    x AS (SELECT hid, hid % 4 AS m, agent FROM hosts CROSS JOIN agents)
    SELECT 'h' || CAST(hid AS VARCHAR) || '.example.org' AS host,
      agent,
      CAST(CASE WHEN m = 2 THEN 1
                WHEN m = 1 AND agent = 'fastbot' THEN 1
                ELSE 0 END AS INT) AS specific,
      CAST(CASE WHEN m = 0 THEN 2.0
                WHEN m = 1 AND agent = 'fastbot' THEN 30.0
                WHEN m = 2 THEN 1.5
                ELSE NULL END AS DOUBLE) AS crawl_delay,
      CAST(CASE WHEN m = 0 THEN 2 WHEN m IN (1, 2) THEN 1
                ELSE 0 END AS INT) AS n_disallow,
      CAST(CASE WHEN m IN (0, 2) THEN 1 ELSE 0 END AS INT) AS n_allow
    FROM x
""")
def q_robots_matrix(spark, sf_dir):
    """Per-(host, agent) REP fleet audit (frontier/robots.py
    robots_agent_matrix): 8 hosts cycling 4 body shapes — star-only
    group, fastbot-specific + star fallback, shared goodbot+fastbot
    group (RFC 9309 consecutive-UA grouping), comment-only open host
    — probed for agents goodbot and fastbot.  Noise page rows (one
    per document) prove the pre-Python robots.txt scan pruning.
    Oracle is the closed form per (hid % 4, agent)."""
    from .frontier.robots import robots_agent_matrix

    docs = tp(spark, sf_dir, "documents").select("doc_id")
    hosts = docs.select((F.col("doc_id") % 8).alias("hid")).distinct()
    hid = F.col("hid")
    m = hid % 4
    body = (
        F.when(m == 0, F.lit(
            "User-agent: *\nDisallow: /a\nDisallow: /b\n"
            "Allow: /a/x\nCrawl-delay: 2"))
        .when(m == 1, F.lit(
            "User-agent: fastbot\nCrawl-delay: 30\nDisallow: /\n\n"
            "User-agent: *\nDisallow: /tmp"))
        .when(m == 2, F.lit(
            "User-agent: goodbot\nUser-agent: fastbot\n"
            "Allow: /public\nDisallow: /priv\nCrawl-delay: 1.5"))
        .otherwise(F.lit("# placeholder, no groups\n"))
    )
    robots_pages = hosts.select(
        F.concat(
            F.lit("https://h"), hid.cast("string"),
            F.lit(".example.org/robots.txt"),
        ).alias("url"),
        body.alias("text"),
    )
    noise = docs.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 8).cast("string"),
            F.lit(".example.org/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.lit("User-agent: decoy\nDisallow: /never").alias("text"),
    )
    return robots_agent_matrix(
        robots_pages.unionByName(noise), ["goodbot", "fastbot"]
    )


@query(_GRAPH_SQL + r"""
    , h0 AS (SELECT doc_id AS node FROM documents WHERE doc_id % 97 = 0)
    , h1 AS (SELECT DISTINCT e.dst AS node
             FROM edges e JOIN h0 ON e.src = h0.node
             WHERE e.dst NOT IN (SELECT node FROM h0))
    , h2 AS (SELECT DISTINCT e.dst AS node
             FROM edges e JOIN h1 ON e.src = h1.node
             WHERE e.dst NOT IN (SELECT node FROM h0)
               AND e.dst NOT IN (SELECT node FROM h1))
    , assigned AS (
        SELECT node, CAST(0 AS INT) AS hops FROM h0
        UNION ALL SELECT node, CAST(1 AS INT) FROM h1
        UNION ALL SELECT node, CAST(2 AS INT) FROM h2)
    , parents AS (
        SELECT c.node AS node, count(DISTINCT e.src) AS n_parents
        FROM edges e
        JOIN assigned p ON e.src = p.node
        JOIN assigned c ON e.dst = c.node
        WHERE c.hops = p.hops + 1
        GROUP BY c.node)
    SELECT a.node, a.hops,
           CAST(coalesce(p.n_parents, 0) AS BIGINT) AS n_parents
    FROM assigned a LEFT JOIN parents p ON a.node = p.node
""")
def q_seed_hops(spark, sf_dir):
    """Bounded 2-hop seed expansion (graph.py seed_neighborhood) from
    the %97 seed set over the shared circulant edge set: minimum hop
    distance plus distinct min-distance predecessor count per reached
    node.  Oracle is the BFS unrolled to two explicit levels."""
    from .graph import seed_neighborhood

    edges, nodes, _n = _graph_inputs(spark, sf_dir)
    seeds = nodes.filter(F.col("node") % 97 == 0)
    return seed_neighborhood(edges, seeds, max_hops=2)


@query(_GRAPH_SQL + r"""
    , sd AS (SELECT doc_id AS node,
                    'cat' || CAST(doc_id % 3 AS VARCHAR) AS seed
             FROM documents WHERE doc_id % 83 = 0)
    , l0 AS (SELECT d.doc_id AS node, s.seed AS label
             FROM documents d LEFT JOIN sd s ON d.doc_id = s.node)
    , c1 AS (SELECT e.dst AS node, l.label, count(*) AS c
             FROM edges e JOIN l0 l ON e.src = l.node
             WHERE l.label IS NOT NULL GROUP BY e.dst, l.label)
    , b1 AS (SELECT node, label FROM c1
             QUALIFY row_number() OVER (PARTITION BY node
                       ORDER BY c DESC, label ASC) = 1)
    , l1 AS (SELECT l0.node, coalesce(s.seed, b.label, l0.label) AS label
             FROM l0 LEFT JOIN b1 b ON l0.node = b.node
                     LEFT JOIN sd s ON l0.node = s.node)
    , c2 AS (SELECT e.dst AS node, l.label, count(*) AS c
             FROM edges e JOIN l1 l ON e.src = l.node
             WHERE l.label IS NOT NULL GROUP BY e.dst, l.label)
    , b2 AS (SELECT node, label FROM c2
             QUALIFY row_number() OVER (PARTITION BY node
                       ORDER BY c DESC, label ASC) = 1)
    , l2 AS (SELECT l1.node, coalesce(s.seed, b.label, l1.label) AS label
             FROM l1 LEFT JOIN b2 b ON l1.node = b.node
                     LEFT JOIN sd s ON l1.node = s.node)
    SELECT l2.node, l2.label,
           CASE WHEN s.seed IS NOT NULL THEN 'seed'
                WHEN l2.label IS NOT NULL THEN 'prop'
                ELSE 'none' END AS origin
    FROM l2 LEFT JOIN sd s ON l2.node = s.node
""")
def q_label_prop(spark, sf_dir):
    """Seed-clamped label propagation (graph.py label_propagation)
    over the shared circulant edge set: %83 seed nodes carry
    'cat{node%3}'; two synchronous rounds of in-neighbor majority
    with lexicographic tie-break.  Oracle unrolls both rounds with
    QUALIFY row_number selections."""
    from .graph import label_propagation

    edges, nodes, _n = _graph_inputs(spark, sf_dir)
    seeds = nodes.filter(F.col("node") % 83 == 0).select(
        "node",
        F.concat(F.lit("cat"), (F.col("node") % 3).cast("string")).alias(
            "label"
        ),
    )
    return label_propagation(edges, nodes, seeds, iters=2)


@query(_GRAPH_SQL + r"""
    , e AS (SELECT DISTINCT src, dst FROM edges)
    , deg AS (SELECT src, count(*) AS outd FROM e GROUP BY src)
    , capped AS (SELECT e.src, e.dst FROM e JOIN deg USING (src)
                 WHERE outd <= 100)
    , pairs AS (
        SELECT a.dst AS node_a, b.dst AS node_b, count(*) AS n_common
        FROM capped a JOIN capped b
          ON a.src = b.src AND a.dst < b.dst
        GROUP BY a.dst, b.dst
        HAVING count(*) >= 1)
    , ind AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY dst)
    SELECT p.node_a, p.node_b, CAST(p.n_common AS BIGINT) AS n_common,
           ROUND(CAST(p.n_common AS DOUBLE)
                 / (ia.in_deg + ib.in_deg - p.n_common), 6) AS jaccard
    FROM pairs p JOIN ind ia ON p.node_a = ia.node
                 JOIN ind ib ON p.node_b = ib.node
""")
def q_cocitation(spark, sf_dir):
    """Co-citation pairs (graph.py cocitation_pairs) over the
    circulant edge set (out-degree 3, under the hub cap, so the
    capped join is exact here): distinct-common-source counts and
    in-neighbor jaccard per (a < b) pair."""
    from .graph import cocitation_pairs

    edges, _nodes, _n = _graph_inputs(spark, sf_dir)
    return cocitation_pairs(edges, min_common=1, max_out=100)


@query(r"""
    WITH base AS (SELECT doc_id, md5(text) AS fp FROM documents),
    cl AS (SELECT fp, min(doc_id) AS cluster_id FROM base GROUP BY fp),
    j AS (SELECT b.doc_id, c.cluster_id,
            CAST(('0x' || substr(md5('split:'
                   || CAST(c.cluster_id AS VARCHAR)), 1, 4))::BIGINT
                 % 100 AS INT) AS bucket
          FROM base b JOIN cl c USING (fp))
    SELECT doc_id, cluster_id, bucket,
      CASE WHEN bucket < 80 THEN 'train'
           WHEN bucket < 90 THEN 'val'
           ELSE 'test' END AS split
    FROM j
""")
def q_leakage_split(spark, sf_dir):
    """Cluster-aware train/val/test split (textops/mix.py
    leakage_split): documents sharing an exact-content fingerprint
    draw ONE split from the hashed cluster id (min doc id), 80/10/10.
    The documents table carries genuine duplicate texts, so the
    no-cluster-straddles-splits property is exercised for real."""
    from .textops.mix import leakage_split

    return leakage_split(tp(spark, sf_dir, "documents"))


# ------------------------------------- archives, graph structure, corpus audits


@query(r"""
    SELECT 'https://wat.example.org/d/' || doc_id AS url,
           CAST(1750000000 + doc_id AS BIGINT) AS warc_epoch,
           'Doc "' || doc_id || '" & <t>' AS title,
           CAST(doc_id % 4 AS INT) AS n_links,
           CASE WHEN doc_id % 4 = 0 THEN NULL
                ELSE 'https://wat.example.org/d/' || (doc_id + 1) END
             AS first_link,
           CAST(1 AS INT) AS valid
    FROM documents
    UNION ALL
    SELECT 'https://wat.example.org/bad/' || doc_id,
           CAST(1750000000 + doc_id AS BIGINT),
           NULL, CAST(0 AS INT), NULL, CAST(0 AS INT)
    FROM documents WHERE doc_id % 10 = 9
""")
def q_wat_scan(spark, sf_dir):
    """WAT metadata connector (sources/wat.py) round-trip: each
    partition of the documents table is encoded as a Common-Crawl-style
    WAT stream (WARC metadata records, compact sorted-keys JSON
    envelope, gzip member each) and parsed back through the stdlib
    connector — one Arrow-batched mapInPandas, no shuffle.  Docs ≡ 9
    (mod 10) additionally emit a CORRUPT-payload record, exercising the
    error-as-data contract (valid=0, NULL title, zero links).  The
    oracle predicts every field straight from doc_id, so a JSON
    escaping, envelope-shape, or record-boundary slip breaks parity."""
    import pandas as pd
    from datetime import datetime, timezone

    from .sources.wat import build_wat, records_to_meta

    base = 1_750_000_000
    docs = tp(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(batches):
        for b in batches:
            data = b""
            for i in b["doc_id"]:
                i = int(i)
                ts = datetime.fromtimestamp(base + i, tz=timezone.utc)
                data += build_wat(
                    [
                        {
                            "url": f"https://wat.example.org/d/{i}",
                            "ts": ts,
                            "title": f'Doc "{i}" & <t>',
                            "links": [
                                (f"https://wat.example.org/d/{i + k + 1}", f"a{k}")
                                for k in range(i % 4)
                            ],
                        }
                    ]
                )
                if i % 10 == 9:
                    import gzip as _gzip
                    import io as _io

                    body = b"{corrupt"
                    rec = (
                        b"WARC/1.0\r\nWARC-Type: metadata\r\n"
                        + f"WARC-Target-URI: https://wat.example.org/bad/{i}".encode()
                        + b"\r\n"
                        + f"WARC-Date: {ts:%Y-%m-%dT%H:%M:%SZ}".encode()
                        + b"\r\nContent-Type: application/json\r\n"
                        + f"Content-Length: {len(body)}".encode()
                        + b"\r\n\r\n"
                        + body
                        + b"\r\n\r\n"
                    )
                    buf = _io.BytesIO()
                    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                        gz.write(rec)
                    data += buf.getvalue()
            metas = list(records_to_meta(data))
            yield pd.DataFrame(
                {
                    "url": [m["url"] for m in metas],
                    "warc_epoch": [int(m["warc_ts"].timestamp()) for m in metas],
                    "title": [m["title"] for m in metas],
                    "n_links": [len(m["links"]) for m in metas],
                    "first_link": [
                        m["links"][0][0] if m["links"] else None for m in metas
                    ],
                    "valid": [m["valid"] for m in metas],
                }
            )

    return docs.mapInPandas(
        roundtrip,
        schema=(
            "url string, warc_epoch long, title string, n_links int, "
            "first_link string, valid int"
        ),
    )


@query(r"""
    WITH hf AS (
      SELECT DISTINCT host, fp FROM (
        SELECT 'm' || (doc_id % 8) AS host, md5(text) AS fp FROM documents
        UNION ALL
        SELECT 'x' || ((doc_id // 5) % 2), md5(text)
        FROM documents WHERE doc_id % 5 = 0)),
    width AS (SELECT fp, count(*) AS nh FROM hf GROUP BY fp),
    capped AS (SELECT h.host, h.fp FROM hf h JOIN width w USING (fp)
               WHERE w.nh BETWEEN 2 AND 6),
    per_host AS (SELECT host, count(*) AS n_fps FROM hf GROUP BY host),
    pairs AS (
      SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_shared
      FROM capped a JOIN capped b ON a.fp = b.fp AND a.host < b.host
      GROUP BY a.host, b.host
      HAVING count(*) >= 1)
    SELECT p.host_a, p.host_b, CAST(p.n_shared AS BIGINT) AS n_shared,
           CAST(pa.n_fps AS BIGINT) AS n_a, CAST(pb.n_fps AS BIGINT) AS n_b,
           ROUND(CAST(p.n_shared AS DOUBLE) / least(pa.n_fps, pb.n_fps), 6)
             AS containment,
           ROUND(CAST(p.n_shared AS DOUBLE)
                 / (pa.n_fps + pb.n_fps - p.n_shared), 6) AS jaccard
    FROM pairs p JOIN per_host pa ON p.host_a = pa.host
                 JOIN per_host pb ON p.host_b = pb.host
""")
def q_host_mirrors(spark, sf_dir):
    """Mirror-host detection (textops/dedup.py host_mirror_pairs):
    pages bucketed onto 8 synthetic hosts with md5 content
    fingerprints; the corpus's genuine duplicate texts make shared
    fingerprints real.  Postings-list pair generation (no fp self-join)
    with a 6-host document-frequency cap — fingerprints on >6 hosts are
    boilerplate and excluded, exercising the cap in the oracle too."""
    from .textops.dedup import host_mirror_pairs

    d = tp(spark, sf_dir, "documents")
    base = d.select(
        F.concat(F.lit("m"), (F.col("doc_id") % 8).cast("string")).alias("host"),
        F.md5("text").alias("fp"),
    )
    # every 5th page is ALSO served from a mirror host (x0/x1) — the
    # partial-mirror case the containment column is built to flag
    mirrors = d.filter(F.col("doc_id") % 5 == 0).select(
        F.concat(
            F.lit("x"), (F.expr("doc_id div 5") % 2).cast("string")
        ).alias("host"),
        F.md5("text").alias("fp"),
    )
    return host_mirror_pairs(base.unionByName(mirrors))


@query(r"""
    WITH e AS (
      SELECT 'h' || (doc_id % 11) AS host,
             CAST((1750000000 + doc_id) * 1000000 AS BIGINT) AS us,
             doc_id AS event_id,
             CASE WHEN (doc_id // 11) % 5 IN (1, 2)
                    OR (doc_id // 11) % 13 = 7 THEN 0 ELSE 1 END AS ok
      FROM documents),
    n AS (
      SELECT host, event_id, us, ok,
             row_number() OVER (PARTITION BY host
                                ORDER BY us, event_id) AS rn,
             row_number() OVER (PARTITION BY host, ok
                                ORDER BY us, event_id) AS rno,
             count(*) OVER (PARTITION BY host) AS total
      FROM e)
    SELECT host, MIN(us) AS start_us, MAX(us) AS end_us,
           COUNT(*) AS n_failures, MIN(event_id) AS first_event,
           CAST(CASE WHEN MAX(rn) < MAX(total) THEN 1 ELSE 0 END AS INT)
             AS recovered
    FROM n WHERE ok = 0
    GROUP BY host, rn - rno
    HAVING COUNT(*) >= 2
""")
def q_host_outages(spark, sf_dir):
    """Host-outage episodes (crawl/sessions.py failure_episodes):
    fetch log synthesized onto 11 hosts with a per-host sequence index
    k = doc_id div 11; fetches fail when k%5 ∈ {1,2} or k%13 = 7,
    yielding regular 2-runs and occasional 3-runs plus hosts whose log
    ends mid-outage (recovered=0).  Gaps-and-islands with both
    row_numbers and the closing groupBy on ONE Exchange."""
    from .crawl.sessions import failure_episodes

    d = F.col("doc_id")
    k = F.expr("doc_id div 11")
    ok = ~((k % 5).isin(1, 2) | (k % 13 == 7))
    logs = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (d % 11).cast("string")).alias("host"),
        F.timestamp_seconds(F.lit(1_750_000_000) + d).alias("ts"),
        d.alias("event_id"),
        ok.cast("int").alias("ok"),
    )
    return failure_episodes(logs)


@query(r"""
    WITH c AS (
      SELECT token, count(*) AS n FROM (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents)
      GROUP BY token),
    totals AS (SELECT count(*) AS n_types,
                      CAST(sum(n) AS BIGINT) AS n_tokens FROM c),
    top AS (SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
            FROM c ORDER BY n DESC, token ASC LIMIT 200),
    fit AS (SELECT ROUND(regr_slope(ln(n), ln(rank)), 4) AS zipf_slope,
                   ROUND(regr_r2(ln(n), ln(rank)), 4) AS zipf_r2
            FROM top)
    SELECT CAST(t.n_types AS BIGINT) AS n_types, t.n_tokens,
           ROUND(CAST(t.n_types AS DOUBLE) / t.n_tokens, 6) AS ttr,
           f.zipf_slope, f.zipf_r2
    FROM totals t, fit f
""")
def q_zipf_fit(spark, sf_dir):
    """Corpus Zipf audit (textops/quality.py zipf_fit): ln-ln
    regression slope + r² over the top-200 vocabulary, type/token
    totals.  One map-side-combined token groupBy, TakeOrdered top-N,
    deterministic tie-break so both engines regress identical inputs."""
    from .textops.quality import zipf_fit

    return zipf_fit(tp(spark, sf_dir, "documents"))


@query(r"""
    WITH post AS (
      SELECT DISTINCT doc_id, token AS term FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents)),
    g AS (
      SELECT term, doc_id,
             lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id) AS prev
      FROM post),
    c AS (
      SELECT term,
             CASE WHEN prev IS NULL THEN 2 * length(bin(doc_id + 1)) - 1
                  ELSE 2 * length(bin(doc_id - prev)) - 1 END AS bits
      FROM g),
    p AS (SELECT term, count(*) AS df,
                 CAST(sum(bits) AS BIGINT) AS gamma_bits
          FROM c GROUP BY term HAVING count(*) >= 3)
    SELECT term, CAST(df AS BIGINT) AS df, gamma_bits,
           ROUND(CAST(gamma_bits AS DOUBLE) / df, 4) AS bits_per_posting,
           ROUND(df * 64.0 / gamma_bits, 4) AS compression_ratio
    FROM p
""")
def q_posting_gaps(spark, sf_dir):
    """Posting-list compression audit (textops/index.py posting_gaps):
    per-term delta-gaps priced in exact Elias-γ bits
    (2·length(bin(x))−1 — integer, no float log), compression ratio vs
    raw 64-bit ids.  Lag window and closing groupBy share one term
    Exchange."""
    from .textops.index import posting_gaps

    return posting_gaps(tp(spark, sf_dir, "documents"))


def _tufted_edges(spark, sf_dir):
    """Shared synthesis for the triangle/k-core queries.

    ``triangles``: ring lattice (v ~ v±1, v±2 — every consecutive
    triple closes a triangle) plus hub spokes (v → 0 for v ≡ 7 mod 13)
    for degree variance that exercises the degree-ordered orientation.

    ``kcore``: leaf tufts (v → its ⌊v/5⌋·5 hub for v % 5 ≠ 0) plus a
    hub chain (v → v+5 for v ≡ 0 mod 5) — one peel strips every leaf,
    later peels cascade end-in along the hub chain.
    """
    docs = t(spark, sf_dir, "documents")
    n = docs.count()
    return docs, n


@query(r"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    e AS (
      SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
      FROM documents CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id + 2) % nn.n FROM documents CROSS JOIN nn
      UNION ALL
      SELECT doc_id, 0 FROM documents WHERE doc_id % 13 = 7),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM e WHERE src <> dst),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      GROUP BY node),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1
      JOIN und e2 ON e2.u = e1.v
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
    pern AS (
      SELECT node, count(*) AS t FROM (
        SELECT unnest([a, b, c]) AS node FROM tri)
      GROUP BY node)
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(p.t, 0) AS BIGINT) AS triangles,
           CASE WHEN d.degree >= 2
                THEN round(coalesce(p.t, 0) * 2.0
                           / (d.degree * (d.degree - 1)), 6)
                ELSE 0.0 END AS clustering
    FROM deg d LEFT JOIN pern p ON d.node = p.node
""")
def q_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering (graph.py
    triangle_counts, degree-ordered orientation) over a ring lattice
    (v ~ v±1, v±2) with hub spokes to node 0 — every consecutive
    triple is a triangle, the hub mostly closes none.  Oracle
    enumerates id-ordered triangles directly."""
    from .graph import triangle_counts

    docs, n = _tufted_edges(spark, sf_dir)
    d = F.col("doc_id")
    ring = docs.select(
        d.alias("src"),
        F.explode(F.array((d + 1) % n, (d + 2) % n)).alias("dst"),
    )
    hub = docs.filter(d % 13 == 7).select(
        d.alias("src"), F.lit(0).cast("long").alias("dst")
    )
    return triangle_counts(
        ring.unionByName(hub).filter(F.col("src") != F.col("dst"))
    )


@query(r"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    e AS (
      SELECT doc_id AS src, doc_id - (doc_id % 5) AS dst
      FROM documents WHERE doc_id % 5 <> 0
      UNION ALL
      SELECT doc_id, doc_id + 5
      FROM documents CROSS JOIN nn
      WHERE doc_id % 5 = 0 AND doc_id + 5 < nn.n),
    e0 AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM e WHERE src <> dst),
    d1 AS (SELECT node, count(*) AS dg FROM (
             SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
           GROUP BY node),
    k1 AS (SELECT node FROM d1 WHERE dg >= 2),
    e1 AS (SELECT u, v FROM e0
           WHERE u IN (SELECT node FROM k1) AND v IN (SELECT node FROM k1)),
    d2 AS (SELECT node, count(*) AS dg FROM (
             SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
           GROUP BY node),
    k2 AS (SELECT node FROM d2 WHERE dg >= 2),
    e2 AS (SELECT u, v FROM e1
           WHERE u IN (SELECT node FROM k2) AND v IN (SELECT node FROM k2)),
    d3 AS (SELECT node, count(*) AS dg FROM (
             SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
           GROUP BY node),
    k3 AS (SELECT node FROM d3 WHERE dg >= 2),
    e3 AS (SELECT u, v FROM e2
           WHERE u IN (SELECT node FROM k3) AND v IN (SELECT node FROM k3)),
    fd AS (SELECT node, count(*) AS degree FROM (
             SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
           GROUP BY node)
    SELECT node, CAST(degree AS BIGINT) AS degree,
           CAST(CASE WHEN degree >= 2 THEN 1 ELSE 0 END AS INT) AS stable
    FROM fd
""")
def q_kcore(spark, sf_dir):
    """Bounded k-core peel (graph.py kcore_peel, k=2, rounds=3) over a
    tufted hub chain: leaves (v % 5 ≠ 0 → hub ⌊v/5⌋·5) strip in round
    one, then the peel cascades end-in along the hub chain (v → v+5) —
    two hubs per round.  Oracle unrolls all three peels."""
    from .graph import kcore_peel

    docs, n = _tufted_edges(spark, sf_dir)
    d = F.col("doc_id")
    leaves = docs.filter(d % 5 != 0).select(
        d.alias("src"), (d - d % 5).alias("dst")
    )
    chain = docs.filter((d % 5 == 0) & (d + 5 < n)).select(
        d.alias("src"), (d + 5).alias("dst")
    )
    return kcore_peel(
        leaves.unionByName(chain).filter(F.col("src") != F.col("dst")),
        k=2,
        rounds=3,
    )


@query("""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
    c AS (
      SELECT qid, vec_id,
             ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))
                    * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))), 6) AS sim
      FROM e, q WHERE vec_id <> qid
    ),
    g AS (SELECT * FROM c WHERE sim < 0.35 AND sim >= 0.05)
    SELECT qid, vec_id, CAST(rn AS INT) AS rank, sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM g
    ) WHERE rn <= 5
""")
def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining (textops/similarity.py
    hard_negatives): per anchor (vec_id < 8) the 5 most-similar
    vectors below the 0.35 near-dup bar and above the 0.05 floor —
    both gates bite on this table's sim distribution (0.35 is
    embedding_dup_pairs' dup threshold here)."""
    from .textops.similarity import hard_negatives

    return hard_negatives(
        tp(spark, sf_dir, "embeddings"),
        n_queries=8,
        k=5,
        dup_threshold=0.35,
        floor=0.05,
    )


@query(r"""
    WITH per AS (
      SELECT lang, count(*) AS n_docs,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes
      FROM documents GROUP BY lang)
    SELECT lang, n_docs, n_tokens, n_chars, n_bytes,
           CASE WHEN n_tokens > 0
                THEN ROUND(n_chars / CAST(n_tokens AS DOUBLE), 4) END
             AS chars_per_token,
           CASE WHEN n_tokens > 0
                THEN ROUND(n_bytes / CAST(n_tokens AS DOUBLE), 4) END
             AS bytes_per_token
    FROM per
""")
def q_lang_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (textops/mix.py lang_fertility):
    chars/token and UTF-8 bytes/token per language — the per-token cost
    table a multilingual sampling correction starts from."""
    from .textops.mix import lang_fertility

    return lang_fertility(tp(spark, sf_dir, "documents"))


@query(f"""
    WITH {_LSH_CTES},
    d AS (SELECT doc_id, list_distinct(s) AS sd FROM sh)
    SELECT id1, id2, ROUND(est, 4) AS est_jaccard,
           ROUND(inter / (la + lb - inter), 4) AS jaccard,
           ROUND(ABS(est - inter / (la + lb - inter)), 4) AS abs_err
    FROM (
      SELECT id1, id2,
             len(list_filter(range(1, 17), i -> p.sg[i] = q.sg[i])) / 16.0
               AS est,
             CAST(len(list_filter(x.sd, e -> list_contains(y.sd, e)))
               AS DOUBLE) AS inter,
             CAST(len(x.sd) AS DOUBLE) AS la, CAST(len(y.sd) AS DOUBLE) AS lb
      FROM cand
      JOIN sig p ON p.doc_id = id1 JOIN sig q ON q.doc_id = id2
      JOIN d x ON x.doc_id = id1 JOIN d y ON y.doc_id = id2
    )
""")
def q_minhash_error(spark, sf_dir):
    """MinHash estimator-error audit (textops/dedup.py
    minhash_error_audit): per LSH candidate pair, signature-match
    estimate vs exact shingle Jaccard and |error| — the evidence table
    for the (n_hashes, bands) budget on this corpus."""
    from .textops.dedup import minhash_error_audit

    return minhash_error_audit(tp(spark, sf_dir, "documents"))


@query(r"""
    WITH m AS (
      SELECT 'dt=' || (doc_id % 7) AS partition,
             'part-' || doc_id AS file,
             CAST(CASE WHEN doc_id % 11 = 3 THEN 160 * 1048576
                       ELSE ((doc_id % 97) + 1) * 1048576 END AS BIGINT)
               AS size_bytes
      FROM documents),
    small AS (
      SELECT partition, file, size_bytes,
             COALESCE(SUM(size_bytes) OVER (
               PARTITION BY partition
               ORDER BY size_bytes DESC, file ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM m WHERE size_bytes < 128 * 1048576)
    SELECT partition, file, size_bytes,
           CAST(cum // (128 * 1048576) AS BIGINT) AS group_id,
           CAST(0 AS INT) AS already_compact
    FROM small
    UNION ALL
    SELECT partition, file, size_bytes, CAST(NULL AS BIGINT), CAST(1 AS INT)
    FROM m WHERE size_bytes >= 128 * 1048576
""")
def q_compaction_plan(spark, sf_dir):
    """Small-files compaction plan (sources/layout.py compaction_plan):
    a synthetic per-partition manifest (7 date partitions, file sizes
    cycling 1..97 MB with every 11th file already at 160 MB ≥ target)
    binned into 128 MB merge groups by running-total cuts; compact
    files pass through ungrouped."""
    from .sources.layout import compaction_plan

    d = F.col("doc_id")
    mb = 1024 * 1024
    manifest = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("dt="), (d % 7).cast("string")).alias("partition"),
        F.concat(F.lit("part-"), d.cast("string")).alias("file"),
        F.when(d % 11 == 3, F.lit(160 * mb))
        .otherwise(((d % 97) + 1) * mb)
        .cast("long")
        .alias("size_bytes"),
    )
    return compaction_plan(manifest, target_bytes=128 * mb)


@query("""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
    c AS (
      SELECT vec_id, v, centroid_id,
             ROUND(list_sum(list_transform(range(1, 65), i -> cv[i] * v[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))
                    * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))), 6) AS sim
      FROM e, cents
    ),
    asn AS (
      SELECT vec_id, v, centroid_id, sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
        FROM c
      ) WHERE rn = 1
    ),
    dims AS (SELECT unnest(range(1, 65)) AS dim),
    m AS (
      SELECT centroid_id, dim, SUM(v[dim]) AS sx, COUNT(*) AS n
      FROM asn, dims GROUP BY 1, 2
    ),
    newc AS (
      SELECT centroid_id, MAX(n) AS n_members,
             list(sx / n ORDER BY dim) AS nc
      FROM m GROUP BY 1
    ),
    coh AS (
      SELECT centroid_id, ROUND(AVG(sim), 6) AS mean_sim
      FROM asn GROUP BY 1
    )
    SELECT n.centroid_id, CAST(n.n_members AS BIGINT) AS n_members,
           h.mean_sim,
           ROUND(sqrt(list_sum(list_transform(range(1, 65),
                 i -> (n.nc[i] - o.cv[i]) * (n.nc[i] - o.cv[i])))), 6)
             AS shift
    FROM newc n JOIN coh h ON n.centroid_id = h.centroid_id
    JOIN cents o ON n.centroid_id = o.centroid_id
""")
def q_centroid_update(spark, sf_dir):
    """One Lloyd iteration of spherical k-means (textops/similarity.py
    centroid_update): E-step assignment (embedding_clusters semantics)
    plus the M-step mean recomputation — per-cluster member count,
    cohesion, and centroid shift.  The M-step Exchange carries at most
    k x dim partial sums per partition, never embeddings."""
    from .textops.similarity import centroid_update

    return centroid_update(tp(spark, sf_dir, "embeddings"), k=8)


@query(_GRAPH_SQL + r"""
    , e AS (SELECT DISTINCT src, dst FROM edges)
    , deg AS (SELECT dst, count(*) AS ind FROM e GROUP BY dst)
    , capped AS (SELECT e.src, e.dst FROM e JOIN deg USING (dst)
                 WHERE ind <= 100)
    , pairs AS (
        SELECT a.src AS node_a, b.src AS node_b, count(*) AS n_common
        FROM capped a JOIN capped b
          ON a.dst = b.dst AND a.src < b.src
        GROUP BY a.src, b.src
        HAVING count(*) >= 1)
    , outd AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY src)
    SELECT p.node_a, p.node_b, CAST(p.n_common AS BIGINT) AS n_common,
           ROUND(CAST(p.n_common AS DOUBLE)
                 / (oa.out_deg + ob.out_deg - p.n_common), 6) AS jaccard
    FROM pairs p JOIN outd oa ON p.node_a = oa.node
                 JOIN outd ob ON p.node_b = ob.node
""")
def q_bibcoupling(spark, sf_dir):
    """Bibliographic-coupling pairs (graph.py bibcoupling_pairs) over
    the shared circulant edge set: distinct-common-target counts and
    out-neighbor jaccard per (a < b) pair — the co-citation plan on
    the reversed edge list."""
    from .graph import bibcoupling_pairs

    edges, _nodes, _n = _graph_inputs(spark, sf_dir)
    return bibcoupling_pairs(edges)


@query(r"""
    WITH log AS (
      SELECT 'r' || (doc_id % 13) AS host,
             CAST((1750000000
                   + (doc_id // 13)
                     * (CASE WHEN (doc_id % 13) % 5 = 4
                             THEN 100000 ELSE 7200 END)) * 1000000
               AS BIGINT) AS us,
             CAST(CASE (doc_id % 13) % 5
               WHEN 0 THEN 200
               WHEN 1 THEN CASE WHEN (doc_id // 13) % 3 = 0
                                THEN 200 ELSE 301 END
               WHEN 2 THEN 404
               WHEN 3 THEN CASE WHEN (doc_id // 13) % 7 < 5
                                THEN 200 ELSE 503 END
               ELSE CASE WHEN doc_id // 13 = 0 THEN 200 ELSE 0 END
             END AS INT) AS st
      FROM documents),
    agg AS (
      SELECT host,
             arg_max(st, us) AS last_status,
             MAX(us) AS last_us,
             MAX(CASE WHEN st > 0 AND st < 500 THEN us END) AS last_ok,
             MIN(us) AS first_us
      FROM log GROUP BY host),
    c AS (
      SELECT host, last_status, last_us,
             CASE WHEN last_status >= 500 OR last_status <= 0
                  THEN (last_us - COALESCE(last_ok, first_us))
                       / 3600000000.0
                  ELSE 0.0 END AS hours
      FROM agg)
    SELECT host, last_status, last_us,
           ROUND(hours, 4) AS unreachable_hours,
           CASE WHEN last_status BETWEEN 200 AND 299 THEN 'parse'
                WHEN last_status BETWEEN 300 AND 399 THEN 'follow_redirect'
                WHEN last_status BETWEEN 400 AND 499 THEN 'allow_all'
                WHEN hours > 720 THEN 'stale_cache_allow'
                ELSE 'disallow_all' END AS policy,
           last_us + CASE WHEN last_status >= 500 OR last_status <= 0
                          THEN 3600000000 ELSE 86400000000 END
             AS refetch_at_us
    FROM c
""")
def q_robots_policy(spark, sf_dir):
    """RFC 9309 status-code policy per host (frontier/robots.py
    robots_fetch_policy): robots.txt fetch histories over 13 hosts in
    five regimes — steady 200, redirect-latest, 404 (allow_all), fresh
    5xx (disallow_all), and a long-dark host whose 27.8 h fetch cadence
    pushes continuous unreachability past the 720 h grace
    (stale_cache_allow)."""
    from .frontier.robots import robots_fetch_policy

    d = F.col("doc_id")
    h = d % 13
    k = F.expr("doc_id div 13")
    c = h % 5
    step = F.when(c == 4, F.lit(100000)).otherwise(F.lit(7200))
    status = (
        F.when(c == 0, F.lit(200))
        .when(c == 1, F.when(k % 3 == 0, F.lit(200)).otherwise(F.lit(301)))
        .when(c == 2, F.lit(404))
        .when(c == 3, F.when(k % 7 < 5, F.lit(200)).otherwise(F.lit(503)))
        .otherwise(F.when(k == 0, F.lit(200)).otherwise(F.lit(0)))
    )
    log = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("r"), h.cast("string")).alias("host"),
        F.timestamp_seconds(F.lit(1_750_000_000) + k * step).alias("ts"),
        status.alias("status"),
    )
    return robots_fetch_policy(log)


@query(r"""
    WITH log AS (
      SELECT 'f' || (doc_id % 23) AS host,
             CASE WHEN doc_id % 11 = 0 THEN 9 ELSE 1 END AS fetches
      FROM documents),
    per AS (
      SELECT host AS k, CAST(SUM(fetches) AS DOUBLE) AS x
      FROM log GROUP BY host)
    SELECT COUNT(*) AS n_keys, CAST(SUM(x) AS BIGINT) AS total,
           ROUND(SUM(x) * SUM(x) / (COUNT(*) * SUM(x * x)), 6)
             AS jain_index,
           ROUND(MAX(x) / SUM(x), 6) AS max_share,
           (SELECT k FROM per ORDER BY x DESC, k DESC LIMIT 1) AS top_key
    FROM per
""")
def q_crawl_fairness(spark, sf_dir):
    """Budget-fairness report (frontier/politeness.py fairness_report):
    Jain index over a deliberately skewed per-host fetch distribution —
    host weight ∝ (doc_id % 11 == 0 ? 9 : 1) on 23 hosts, so one-number
    fairness, max share, and the offending host are all exercised."""
    from .frontier.politeness import fairness_report

    d = F.col("doc_id")
    log = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("f"), (d % 23).cast("string")).alias("host"),
        F.when(d % 11 == 0, F.lit(9)).otherwise(F.lit(1)).alias("fetches"),
    )
    return fairness_report(log, weight_col="fetches")


@query(r"""
    WITH log AS (
      SELECT 'c' || (doc_id % 23) AS host
      FROM documents, unnest(range(1,
        CASE WHEN doc_id % 11 = 0 THEN 10 ELSE 2 END)) AS t(i)),
    cells AS (
      SELECT host, i.r AS row_idx,
             CAST(('0x' || substr(md5(i.r || ':' || host), 1, 15))::BIGINT
                  % 256 AS INT) AS bucket
      FROM log, (SELECT unnest(range(0, 4)) AS r) i),
    sketch AS (
      SELECT row_idx, bucket, count(*) AS cnt
      FROM cells GROUP BY row_idx, bucket),
    probes AS (
      SELECT DISTINCT host AS key, i.r AS row_idx,
             CAST(('0x' || substr(md5(i.r || ':' || host), 1, 15))::BIGINT
                  % 256 AS INT) AS bucket
      FROM log, (SELECT unnest(range(0, 4)) AS r) i),
    est AS (
      SELECT p.key, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
      FROM probes p LEFT JOIN sketch s USING (row_idx, bucket)
      GROUP BY p.key),
    tr AS (SELECT host AS key, count(*) AS true_n FROM log GROUP BY host)
    SELECT e.key, e.est, t.true_n, e.est - t.true_n AS overestimate
    FROM est e JOIN tr t USING (key)
""")
def q_cms_hot_hosts(spark, sf_dir):
    """Count-min heavy-hitter detection (frontier/sketches.py
    cms_counts + cms_estimate): a skewed fetch log — every 11th doc's
    host fetched 9x — sketched into 4x256 counters, point-queried for
    all 23 hosts, with the exact count joined back so the CMS
    overestimate-only guarantee is visible (overestimate >= 0
    everywhere, 0 for the hot keys the sketch exists to find)."""
    from .frontier.sketches import cms_counts, cms_estimate

    d = F.col("doc_id")
    log = (
        tp(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("c"), (d % 23).cast("string")).alias("host"),
            F.when(d % 11 == 0, F.lit(9)).otherwise(F.lit(1)).alias("_w"),
        )
        .select("host", F.explode(F.sequence(F.lit(1), F.col("_w"))).alias("_i"))
        .select("host")
    )
    sketch = cms_counts(log, width=256)
    est = cms_estimate(sketch, log, width=256)
    true = log.groupBy(F.col("host").alias("key")).agg(
        F.count(F.lit(1)).alias("true_n")
    )
    return est.join(true, "key").select(
        "key",
        "est",
        "true_n",
        (F.col("est") - F.col("true_n")).alias("overestimate"),
    )


@query(r"""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 29 = 0 THEN 'xx' ELSE lang END AS lang,
             CASE WHEN lang = 'zh' AND doc_id % 3 = 0
                  THEN text || ' 猫狗鸟鱼虫木火水土金猫狗鸟鱼虫木火水土金猫狗鸟鱼虫木火水土金'
                  ELSE text END AS t
      FROM documents),
    c AS (
      SELECT doc_id, lang,
             length(t) - length(regexp_replace(t, '[\p{Latin}]', '', 'g')) AS latin,
             length(t) - length(regexp_replace(t, '[\p{Cyrillic}]', '', 'g')) AS cyrillic,
             length(t) - length(regexp_replace(t, '[\p{Han}]', '', 'g')) AS han,
             length(t) - length(regexp_replace(t, '[\p{Arabic}]', '', 'g')) AS arabic
      FROM m),
    p AS (
      SELECT doc_id, lang,
             CASE WHEN latin >= cyrillic AND latin >= han AND latin >= arabic AND latin > 0 THEN 'latin'
                  WHEN cyrillic >= han AND cyrillic >= arabic AND cyrillic > 0 THEN 'cyrillic'
                  WHEN han >= arabic AND han > 0 THEN 'han'
                  WHEN arabic > 0 THEN 'arabic'
                  ELSE 'other' END AS main_script,
             CASE lang WHEN 'en' THEN 'latin' WHEN 'de' THEN 'latin'
               WHEN 'fr' THEN 'latin' WHEN 'es' THEN 'latin'
               WHEN 'it' THEN 'latin' WHEN 'pt' THEN 'latin'
               WHEN 'nl' THEN 'latin' WHEN 'pl' THEN 'latin'
               WHEN 'tr' THEN 'latin' WHEN 'vi' THEN 'latin'
               WHEN 'id' THEN 'latin'
               WHEN 'ru' THEN 'cyrillic' WHEN 'uk' THEN 'cyrillic'
               WHEN 'bg' THEN 'cyrillic' WHEN 'sr' THEN 'cyrillic'
               WHEN 'zh' THEN 'han' WHEN 'ja' THEN 'han'
               WHEN 'ar' THEN 'arabic' WHEN 'fa' THEN 'arabic'
               WHEN 'ur' THEN 'arabic' END AS expected_script
      FROM c)
    SELECT doc_id, lang, main_script, expected_script,
           CASE WHEN expected_script IS NULL THEN 'no_expectation'
                WHEN expected_script = main_script THEN 'ok'
                ELSE 'mismatch' END AS verdict
    FROM p
""")
def q_lang_script(spark, sf_dir):
    """Declared-language vs dominant-script consistency
    (textops/quality.py lang_script_check): raw Latin-script corpus
    text makes every zh-tagged doc a genuine mismatch except the
    doc_id%3==0 ones that get a Han suffix appended (ok); doc_id%29==0
    docs are re-tagged 'xx' (no_expectation)."""
    from .textops.quality import lang_script_check

    d = F.col("doc_id")
    docs = tp(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 29 == 0, F.lit("xx")).otherwise(F.col("lang")).alias("lang"),
        F.when(
            (F.col("lang") == "zh") & (d % 3 == 0),
            F.concat(F.col("text"), F.lit(" \u732b\u72d7\u9e1f\u9c7c\u866b\u6728\u706b\u6c34\u571f\u91d1\u732b\u72d7\u9e1f\u9c7c\u866b\u6728\u706b\u6c34\u571f\u91d1\u732b\u72d7\u9e1f\u9c7c\u866b\u6728\u706b\u6c34\u571f\u91d1")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return lang_script_check(docs)


@query(r"""
    SELECT 'org,example,h' || (doc_id % 7) || ')/p/' || doc_id AS urlkey,
           CAST((1750000000 + doc_id) * 1000000 AS BIGINT) AS ts_us,
           'https://www.h' || (doc_id % 7) || '.example.org/p/' || doc_id
             AS url,
           CAST(CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS INT)
             AS status,
           'text/html' AS mime,
           'md5:' || md5(CAST(doc_id AS VARCHAR)) AS digest,
           CAST((doc_id % 997) + 100 AS BIGINT) AS length,
           'seg-' || (doc_id % 4) || '.warc.gz' AS filename,
           CAST(1 AS INT) AS valid
    FROM documents
""")
def q_cdx_write(spark, sf_dir):
    """CDXJ writer round-trip (sources/cdx.py cdxj_lines -> 
    parse_cdx_lines): a synthesized capture index (www-prefixed hosts
    so the SURT normalization does real work) is serialized to CDXJ
    text lines and re-parsed by this connector's own scanner; every
    typed field must survive byte-exactly.  Closes the crawl -> WARC ->
    index -> discovery loop."""
    from .sources.cdx import cdxj_lines, parse_cdx_lines

    d = F.col("doc_id")
    index = tp(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://www.h"), (d % 7).cast("string"),
            F.lit(".example.org/p/"), d.cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1_750_000_000) + d).alias("ts"),
        F.when(d % 9 == 0, F.lit(404)).otherwise(F.lit(200)).alias("status"),
        F.lit("text/html").alias("mime"),
        F.concat(F.lit("md5:"), F.md5(d.cast("string"))).alias("digest"),
        ((d % 997) + 100).alias("length"),
        F.concat(F.lit("seg-"), (d % 4).cast("string"), F.lit(".warc.gz")).alias(
            "filename"
        ),
    )
    parsed = parse_cdx_lines(cdxj_lines(index))
    return parsed.select(
        "urlkey",
        F.unix_micros("ts").alias("ts_us"),
        "url",
        "status",
        "mime",
        "digest",
        "length",
        "filename",
        "valid",
    )


@query(r"""
    WITH all_v AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL SELECT NULL
      UNION ALL SELECT [CAST(1.0 AS DOUBLE)]
      UNION ALL SELECT list_transform(range(1, 65), x -> CAST(0.0 AS DOUBLE))
    ),
    staged AS (
      SELECT CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_null,
             CASE WHEN v IS NULL OR len(v) <> 64 THEN 1 ELSE 0 END AS wrong_dim,
             CASE WHEN v IS NULL THEN 0
                  WHEN len(list_filter(v, x -> isnan(x) OR abs(x) > 1e308)) > 0
                  THEN 1 ELSE 0 END AS nonfin,
             CASE WHEN v IS NULL THEN NULL
                  ELSE sqrt(list_sum(list_transform(v, x -> x * x))) END AS norm
      FROM all_v)
    SELECT COUNT(*) AS n_vecs,
           CAST(SUM(is_null) AS BIGINT) AS n_null,
           CAST(SUM(wrong_dim) AS BIGINT) AS n_wrong_dim,
           CAST(SUM(nonfin) AS BIGINT) AS n_nonfinite,
           CAST(SUM(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_norm,
           ROUND(quantile_cont(norm, 0.1), 4) AS norm_p10,
           ROUND(quantile_cont(norm, 0.5), 4) AS norm_p50,
           ROUND(quantile_cont(norm, 0.9), 4) AS norm_p90
    FROM staged
""")
def q_embedding_health(spark, sf_dir):
    """ANN index-health audit (textops/similarity.py embedding_health)
    over the embeddings table plus three injected pathologies — a NULL
    vector, a truncated (wrong-dim) vector, and a zero vector — so
    every failure counter is exercised against the oracle."""
    from .textops.similarity import embedding_health

    base = tp(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bad = spark.range(3).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.when(F.col("id") == 0, F.lit(None).cast("array<float>"))
        .when(F.col("id") == 1, F.expr("array(cast(1.0 as float))"))
        .otherwise(F.expr("transform(sequence(1, 64), x -> cast(0.0 as float))"))
        .alias("embedding"),
    )
    return embedding_health(base.unionByName(bad))


@query(r"""
    WITH log AS (
      SELECT 'q' || (doc_id % 13) AS host,
             CAST(doc_id // 13 AS BIGINT) AS round,
             CAST((doc_id % 5)
                  + CASE WHEN (doc_id // 13) % 7 = (doc_id % 13) % 7
                         THEN 8 ELSE 0 END AS BIGINT) AS arrivals
      FROM documents),
    c0 AS (
      SELECT host, round, arrivals,
             SUM(arrivals - 6) OVER
               (PARTITION BY host ORDER BY round
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM log),
    c AS (
      SELECT host, round, arrivals, cum,
             MIN(cum) OVER
               (PARTITION BY host ORDER BY round
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
      FROM c0),
    b AS (
      SELECT host, round, arrivals,
             CAST(cum - LEAST(0, mn) AS BIGINT) AS backlog
      FROM c)
    SELECT host, round, arrivals,
           CAST(arrivals + COALESCE(LAG(backlog) OVER
             (PARTITION BY host ORDER BY round), 0) - backlog AS BIGINT)
             AS served,
           backlog,
           CAST(CASE WHEN backlog > 0 THEN 1 ELSE 0 END AS INT) AS saturated
    FROM b
""")
def q_frontier_backlog(spark, sf_dir):
    """Frontier queue evolution under a 6-fetch politeness cap
    (frontier/politeness.py frontier_backlog, Lindley recursion as
    prefix windows): per-host arrivals cycle 0-4 (drains) with an
    8-URL discovery burst whenever round%7 hits the host's phase —
    backlogs build through the burst and drain after, exercising both
    branches of the max()."""
    from .frontier.politeness import frontier_backlog

    d = F.col("doc_id")
    h = d % 13
    r = F.expr("doc_id div 13")
    arrivals = (d % 5) + F.when(r % 7 == h % 7, F.lit(8)).otherwise(F.lit(0))
    log = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("q"), h.cast("string")).alias("host"),
        r.alias("round"),
        arrivals.alias("arrivals"),
    )
    return frontier_backlog(log, capacity_per_round=6)


@query(r"""
    WITH entries AS (
      SELECT 'https://s' || (doc_id % 5) || '.example.org/sitemap.xml'
               AS sitemap_url,
             CASE WHEN doc_id % 3 = 0
                  THEN 'https://other' || (doc_id % 4) || '.example.net/p/'
                       || doc_id
                  ELSE 'https://s' || (doc_id % 5) || '.example.org/p/'
                       || doc_id END AS loc,
             's' || (doc_id % 5) || '.example.org' AS sitemap_host,
             CASE WHEN doc_id % 3 = 0
                  THEN 'other' || (doc_id % 4) || '.example.net'
                  ELSE 's' || (doc_id % 5) || '.example.org' END AS loc_host
      FROM documents),
    robots AS (
      SELECT 'other' || i.i || '.example.net' AS loc_host,
             'https://s' || j.j || '.example.org/sitemap.xml' AS sitemap_url
      FROM (SELECT unnest(range(0, 2)) AS i) i,
           (SELECT unnest(range(0, 5)) AS j) j)
    SELECT e.sitemap_url, e.loc, e.sitemap_host, e.loc_host,
           CASE WHEN e.sitemap_host = e.loc_host THEN 'same_host'
                WHEN r.loc_host IS NOT NULL THEN 'cross_validated'
                ELSE 'cross_unvalidated' END AS verdict
    FROM entries e
    LEFT JOIN robots r
      ON e.loc_host = r.loc_host AND e.sitemap_url = r.sitemap_url
""")
def q_sitemap_cross(spark, sf_dir):
    """Cross-submission validation (sources/sitemap.py
    cross_submission_audit): sitemaps on 5 hosts list same-host URLs
    except every 3rd entry, which points at other{0..3}.example.net;
    only other0/other1 declare the submitting sitemaps in robots.txt,
    so all three verdicts appear."""
    from .sources.sitemap import cross_submission_audit

    d = F.col("doc_id")
    entries = tp(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://s"), (d % 5).cast("string"),
            F.lit(".example.org/sitemap.xml"),
        ).alias("sitemap_url"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("https://other"), (d % 4).cast("string"),
                F.lit(".example.net/p/"), d.cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://s"), (d % 5).cast("string"),
                F.lit(".example.org/p/"), d.cast("string"),
            )
        )
        .alias("loc"),
    )
    robots = (
        spark.range(2)
        .crossJoin(spark.range(5).withColumnRenamed("id", "j"))
        .select(
            F.concat(F.lit("other"), F.col("id").cast("string"),
                     F.lit(".example.net")).alias("host"),
            F.concat(F.lit("https://s"), F.col("j").cast("string"),
                     F.lit(".example.org/sitemap.xml")).alias("sitemap_url"),
        )
    )
    return cross_submission_audit(entries, robots)


@query(rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    grams AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2
      FROM toks, unnest(range(1, len(tk))) AS t(i)),
    pairs AS (
      SELECT w1, w2, count(*) AS cnt FROM grams GROUP BY w1, w2
      HAVING count(*) >= 5),
    uni AS (
      SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM toks)
      GROUP BY w),
    totals AS (
      SELECT CAST(SUM(len(tk)) AS DOUBLE) AS n_uni,
             CAST(SUM(len(tk) - 1) AS DOUBLE) AS n_big
      FROM toks),
    head AS (
      SELECT w1, w2, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, w1 ASC, w2 ASC) AS rank
      FROM pairs ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 200)
    SELECT h.w1, h.w2, h.cnt,
           ROUND(ln((h.cnt / t.n_big)
                 / ((u1.c / t.n_uni) * (u2.c / t.n_uni))), 4) AS pmi,
           CAST(h.rank AS INT) AS rank
    FROM head h
    JOIN uni u1 ON u1.w = h.w1
    JOIN uni u2 ON u2.w = h.w2
    CROSS JOIN totals t
""")
def q_pmi_bigrams(spark, sf_dir):
    """PMI collocation table (textops/mix.py pmi_collocations): top-200
    corpus bigrams with their pointwise mutual information — the
    multiword-unit / tokenizer-merge evidence next to zipf_fit."""
    from .textops.mix import pmi_collocations

    return pmi_collocations(tp(spark, sf_dir, "documents"), top_k=200)


@query(r"""
    WITH base AS (
      SELECT 'https://d.example.org/p/' || doc_id AS url,
             CAST(doc_id % 100 AS INT) AS priority, doc_id
      FROM documents),
    feeds AS (
      SELECT url, 'link' AS source, priority FROM base
      UNION ALL
      SELECT url, 'sitemap', priority FROM base WHERE doc_id % 2 = 0
      UNION ALL
      SELECT url, 'cdx', priority FROM base WHERE doc_id % 5 = 0
      UNION ALL
      SELECT url, 'seed', priority FROM base WHERE doc_id % 7 = 0),
    ranked AS (
      SELECT url, source, priority,
             CASE source WHEN 'seed' THEN 0 WHEN 'sitemap' THEN 1
                         WHEN 'feed' THEN 2 WHEN 'link' THEN 3
                         WHEN 'cdx' THEN 4 ELSE 5 END AS src_rank
      FROM feeds),
    winners AS (
      SELECT url, source, priority, src_rank FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY url ORDER BY src_rank, priority, source) AS rn
        FROM ranked) WHERE rn = 1),
    quota AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY priority, url) AS qrn,
             CASE source WHEN 'cdx' THEN 60 WHEN 'link' THEN 150 END AS q
      FROM winners)
    SELECT url, source, priority, CAST(src_rank AS INT) AS src_rank,
           CAST(CASE WHEN q IS NULL OR qrn <= q THEN 1 ELSE 0 END AS INT)
             AS admitted
    FROM quota
""")
def q_discovery_merge(spark, sf_dir):
    """Unified discovery intake (crawl/discovery.py
    merge_discovery_feeds): four channels emit overlapping URL sets —
    every URL arrives via 'link'; every 2nd also via 'sitemap' (wins on
    precedence); every 5th via 'cdx' (loses); every 7th via 'seed'
    (wins everything) — then a 60-URL cdx quota and a 150-URL link
    quota gate admission."""
    from .crawl.discovery import merge_discovery_feeds

    d = F.col("doc_id")
    url = F.concat(F.lit("https://d.example.org/p/"), d.cast("string"))
    base = tp(spark, sf_dir, "documents").select(
        url.alias("url"), (d % 100).cast("int").alias("priority")
    )
    feeds = (
        base.select("url", F.lit("link").alias("source"), "priority")
        .unionByName(
            base.filter(d % 2 == 0).select(
                "url", F.lit("sitemap").alias("source"), "priority"
            )
        )
        .unionByName(
            base.filter(d % 5 == 0).select(
                "url", F.lit("cdx").alias("source"), "priority"
            )
        )
        .unionByName(
            base.filter(d % 7 == 0).select(
                "url", F.lit("seed").alias("source"), "priority"
            )
        )
    )
    return merge_discovery_feeds(feeds, quotas={"cdx": 60, "link": 150})


@query(r"""
    WITH s AS (
      SELECT 'snap-' || doc_id AS snapshot_id,
             make_timestamp((1700000000 + doc_id * 93600) * 1000000) AS ts,
             CAST((1700000000 + doc_id * 93600) * 1000000 AS BIGINT) AS us
      FROM documents),
    r AS (
      SELECT snapshot_id, us,
             ROW_NUMBER() OVER (ORDER BY us DESC, snapshot_id DESC)
               AS recent,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('week', ts)
                                ORDER BY us DESC, snapshot_id DESC) AS wkr,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('month', ts)
                                ORDER BY us DESC, snapshot_id DESC) AS mor,
             DENSE_RANK() OVER (ORDER BY date_trunc('week', ts) DESC)
               AS wk_rank,
             DENSE_RANK() OVER (ORDER BY date_trunc('month', ts) DESC)
               AS mo_rank
      FROM s),
    v AS (
      SELECT snapshot_id, us,
             CASE WHEN recent <= 7 THEN 'recent'
                  WHEN wkr = 1 AND wk_rank <= 4 THEN 'weekly'
                  WHEN mor = 1 AND mo_rank <= 6 THEN 'monthly'
                  ELSE 'expire' END AS reason
      FROM r)
    SELECT snapshot_id, us AS ts_us,
           CAST(CASE WHEN reason <> 'expire' THEN 1 ELSE 0 END AS INT)
             AS keep,
           reason
    FROM v
""")
def q_retention_plan(spark, sf_dir):
    """GFS snapshot retention (frontier/freshness.py retention_plan):
    daily-ish snapshots (one per doc_id, 26 h apart so weeks vary in
    population), keep 7 recent / 4 weekly / 6 monthly — all four
    verdict reasons appear at sf0.01's ~500-snapshot history."""
    from .frontier.freshness import retention_plan

    d = F.col("doc_id")
    snaps = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("snap-"), d.cast("string")).alias("snapshot_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + d * 93_600).alias("ts"),
    )
    return retention_plan(snaps)


@query(_GRAPH_SQL + r"""
    , h0 AS (SELECT doc_id AS node, doc_id AS seed
             FROM documents WHERE doc_id % 89 = 0)
    , h1 AS (SELECT e.dst AS node, MIN(h0.seed) AS seed
             FROM edges e JOIN h0 ON e.src = h0.node
             WHERE e.dst NOT IN (SELECT node FROM h0)
             GROUP BY e.dst)
    , h2 AS (SELECT e.dst AS node, MIN(h1.seed) AS seed
             FROM edges e JOIN h1 ON e.src = h1.node
             WHERE e.dst NOT IN (SELECT node FROM h0)
               AND e.dst NOT IN (SELECT node FROM h1)
             GROUP BY e.dst)
    SELECT node, CAST(0 AS INT) AS hops, seed FROM h0
    UNION ALL SELECT node, CAST(1 AS INT), seed FROM h1
    UNION ALL SELECT node, CAST(2 AS INT), seed FROM h2
""")
def q_seed_attribution(spark, sf_dir):
    """Per-seed crawl provenance (graph.py seed_attribution) over the
    shared circulant edge set from the %89 seed set: every node within
    2 hops attributed to ONE seed (min hops, then min seed id) — the
    accounting that prices each seed's contribution."""
    from .graph import seed_attribution

    edges, nodes, _n = _graph_inputs(spark, sf_dir)
    seeds = nodes.filter(F.col("node") % 89 == 0)
    return seed_attribution(edges, seeds)


@query(r"""
    WITH own AS (
      SELECT 'n' || (doc_id % 12) AS host, md5(text) AS fp FROM documents
      UNION ALL
      SELECT 'n' || ((doc_id + 1) % 12), md5(text)
      FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT 'n' || ((doc_id + 2) % 12), md5(text)
      FROM documents WHERE doc_id % 4 = 0)
    SELECT fp, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           count(*) AS n_docs,
           list_sort(list_distinct(list(host)))[1:5] AS sample_hosts
    FROM own GROUP BY fp HAVING count(DISTINCT host) >= 3
""")
def q_syndication(spark, sf_dir):
    """Syndication-burst detection (textops/dedup.py
    syndication_bursts): pages on 12 hosts; every 4th doc's text is
    ALSO served by hosts (d+1)%12 and (d+2)%12 (wire-copy style), so
    genuine >= 3-host bursts exist on top of the corpus's natural
    duplicate texts."""
    from .textops.dedup import syndication_bursts

    d = F.col("doc_id")
    base = tp(spark, sf_dir, "documents")
    own = base.select(
        F.concat(F.lit("n"), (d % 12).cast("string")).alias("host"),
        F.md5("text").alias("fp"),
    )
    wire = base.filter(d % 4 == 0)
    syndicated = own.unionByName(
        wire.select(
            F.concat(F.lit("n"), ((d + 1) % 12).cast("string")).alias("host"),
            F.md5("text").alias("fp"),
        )
    ).unionByName(
        wire.select(
            F.concat(F.lit("n"), ((d + 2) % 12).cast("string")).alias("host"),
            F.md5("text").alias("fp"),
        )
    )
    return syndication_bursts(syndicated)


@query(r"""
    WITH pages AS (
      SELECT 'y' || (doc_id % 9) AS host,
             '<html><body>' || text || repeat('x', (doc_id % 9) * 600)
               || '</body></html>' AS html,
             text
      FROM documents),
    per AS (
      SELECT host, count(*) AS n_pages,
             CAST(SUM(strlen(html)) AS BIGINT) AS fetched_bytes,
             CAST(SUM(strlen(text)) AS BIGINT) AS text_bytes,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
      FROM pages GROUP BY host)
    SELECT host, n_pages, fetched_bytes, n_tokens,
           ROUND(n_tokens * 1048576.0 / fetched_bytes, 4) AS tokens_per_mb,
           ROUND(text_bytes / CAST(fetched_bytes AS DOUBLE), 4) AS text_ratio
    FROM per
""")
def q_host_yield(spark, sf_dir):
    """Token yield per fetched MB (textops/quality.py host_yield):
    each host pads its HTML with host-index-proportional boilerplate
    (600·(d%9) 'x' bytes), so yields genuinely rank hosts."""
    from .textops.quality import host_yield

    d = F.col("doc_id")
    pages = tp(spark, sf_dir, "documents").select(
        F.concat(F.lit("y"), (d % 9).cast("string")).alias("host"),
        F.concat(
            F.lit("<html><body>"),
            F.col("text"),
            F.repeat(F.lit("x"), (d % 9 * 600).cast("int")),
            F.lit("</body></html>"),
        ).alias("html"),
        F.col("text"),
    )
    return host_yield(pages)


@query(r"""
    WITH post AS (
      SELECT DISTINCT lang, doc_id, token FROM (
        SELECT lang, doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents)),
    dfc AS (SELECT lang, token, count(*) AS df FROM post GROUP BY 1, 2),
    nd AS (SELECT lang, count(DISTINCT doc_id) AS n FROM documents
           GROUP BY lang),
    ranked AS (
      SELECT d.lang, d.token, d.df,
             ROUND(d.df / CAST(nd.n AS DOUBLE), 4) AS df_ratio,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY d.df DESC, d.token ASC) AS rank
      FROM dfc d JOIN nd ON d.lang = nd.lang
      WHERE d.df >= nd.n * 0.5)
    SELECT lang, token, df, df_ratio, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 20
""")
def q_stopwords(spark, sf_dir):
    """Empirical stopword discovery (textops/quality.py
    stopword_candidates): per-language tokens with document frequency
    >= 50%, top-20 by df — the data-derived lists langid and quality
    ratios want for languages without curated ones."""
    from .textops.quality import stopword_candidates

    return stopword_candidates(tp(spark, sf_dir, "documents"))
