"""CDX(J) index source — Common Crawl's URL catalog.

Next to the WARC/WET payload segments, Common Crawl publishes CDXJ
index files: one line per capture, ``<urlkey> <timestamp> <json>``,
where the JSON carries url/status/mime/digest/offsets.  A crawler uses
the index for URL DISCOVERY AND TRIAGE WITHOUT FETCHING — seed the
frontier from it, skip non-200s and non-HTML, dedup by content digest,
and locate payload bytes in the WARC segments — so the engine carries
a connector for it alongside the payload readers.

Everything is native expressions: ``spark.read.text`` → two
``substring_index``-style splits + ``from_json`` with an explicit
schema.  Zero Python, full predicate pushdown above the source, and
the line is the parallelism unit (a 300 GB CDX shard set splits like
any text table).  Malformed lines surface as NULL-parsed columns, kept
(error-as-data) with ``valid = 0`` rather than dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

CDX_JSON_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("status", StringType(), True),
        StructField("mime", StringType(), True),
        StructField("digest", StringType(), True),
        StructField("length", StringType(), True),
        StructField("offset", StringType(), True),
        StructField("filename", StringType(), True),
        StructField("languages", StringType(), True),
    ]
)


def parse_cdx_lines(lines: DataFrame) -> DataFrame:
    """Text lines → typed capture rows.

    CDXJ format: ``urlkey SP timestamp SP {json}`` — the urlkey is a
    SURT-ordered key (host segments reversed), the timestamp is
    ``yyyyMMddHHmmss``.  Output: (urlkey, ts timestamp, url, status
    int, mime, digest, length long, offset long, filename, lang,
    valid int).  Lines whose JSON fails to parse keep the raw columns
    with valid = 0.
    """
    v = F.col("value")
    urlkey = F.substring_index(v, " ", 1)
    # try_element_at, not element_at: under Spark 4's default ANSI mode
    # a blank/truncated line (<3 space-separated fields) would raise
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT and abort the whole scan;
    # try_element_at yields NULL ts/json so the line lands as valid=0.
    ts_raw = F.try_element_at(F.split(v, " ", 3), F.lit(2))
    js = F.try_element_at(F.split(v, " ", 3), F.lit(3))
    parsed = F.from_json(js, CDX_JSON_SCHEMA)
    # try_* variants: malformed lines must become NULL-typed columns
    # (error-as-data), not ANSI exceptions that kill the scan
    return lines.select(
        urlkey.alias("urlkey"),
        F.try_to_timestamp(ts_raw, F.lit("yyyyMMddHHmmss")).alias("ts"),
        parsed["url"].alias("url"),
        parsed["status"].try_cast("int").alias("status"),
        parsed["mime"].alias("mime"),
        parsed["digest"].alias("digest"),
        parsed["length"].try_cast("long").alias("length"),
        parsed["offset"].try_cast("long").alias("offset"),
        parsed["filename"].alias("filename"),
        parsed["languages"].alias("lang"),
        F.when(parsed["url"].isNotNull(), 1).otherwise(0).alias("valid"),
    )


def read_cdx(spark: SparkSession, path: str, path_glob: str = "*.cdx*") -> DataFrame:
    """Directory of CDX(J) shards → capture table (gzip handled by the
    text source's codec inference)."""
    return parse_cdx_lines(
        spark.read.option("pathGlobFilter", path_glob).text(path)
    )


def cdx_seed_candidates(captures: DataFrame) -> DataFrame:
    """Capture table → frontier-ready (url, priority) discovery feed:

    - one row per url FIRST: the LATEST capture wins (max ts over ALL
      valid captures — the index holds every historical capture), so a
      URL whose most recent capture is a 404/redirect (page since
      deleted) is NOT resurrected from a stale older 200,
    - then keep urls whose latest capture is a 200 with an accepted
      mime prefix,
    - dedup by content digest afterwards: mirrors with identical
      payloads collapse onto MIN(url) exactly like the DUST aliases,
      so only one representative per digest is seeded.

    Priority 0.0 (organic band): the index proves existence, not
    importance.  All narrow columns; two map-side-combined aggregates.
    """
    latest = (
        captures.filter(F.col("valid") == 1)
        # lexicographic max_by over a (ts, …) struct: row-consistent
        # (status/mime/digest all come from the SAME winning capture)
        # and deterministic under ts ties.
        .groupBy("url")
        .agg(
            F.max_by(
                F.struct("ts", "status", "mime", "digest"),
                F.struct("ts", "status", "mime", "digest"),
            ).alias("cap")
        )
        .select("url", "cap.status", "cap.mime", "cap.digest")
    )
    ok = latest.filter(
        (F.col("status") == 200)
        & F.col("mime").isNotNull()
        & F.col("mime").startswith("text/html")
    )
    return (
        ok.groupBy("digest")
        .agg(F.min("url").alias("url"))
        .select("url", F.lit(0.0).alias("priority"))
    )


def cdxj_lines(index: DataFrame) -> DataFrame:
    """Capture/index rows → CDXJ text lines: the WRITE side of this
    connector, so a crawl indexes its own WARC output in the exact
    format :func:`parse_cdx_lines` (and standard web-archive tooling —
    pywb/OpenWayback cluster indexes) consumes.  Composed with
    sources/warc.records_index this closes the loop: crawl → WARC →
    record index → CDXJ shards → next crawl's discovery feed.

    Line = ``urlkey SP yyyyMMddHHmmss SP {json}`` — urlkey is the SURT
    key (frontier/seen.surt_key_expr, the sort order that makes a
    domain's captures contiguous, so shards written
    ``sortWithinPartitions("value")`` range-merge with archive
    indexes); the JSON is compact with keys in the fixed canonical
    order real CC indexes use (url, mime, status, digest, length,
    filename) — field order is part of byte-reproducibility, so
    to_json over a fixed struct, never a map.

    Everything is codegen string building — one projected scan, no
    shuffle (ordering/sharding is the writer's `repartitionByRange`
    decision, documented not imposed).  Rows with a NULL SURT key
    (non-absolute URL — same error-as-data contract as the parser)
    are dropped.  Returns one ``value`` string column.
    """
    from ..frontier.seen import surt_key_expr

    key = surt_key_expr()
    ts14 = F.date_format(F.col("ts").cast("timestamp"), "yyyyMMddHHmmss")
    js = F.to_json(
        F.struct(
            F.col("url").cast("string").alias("url"),
            F.col("mime").cast("string").alias("mime"),
            F.col("status").cast("string").alias("status"),
            F.col("digest").cast("string").alias("digest"),
            F.col("length").cast("string").alias("length"),
            F.col("filename").cast("string").alias("filename"),
        ),
        {"ignoreNullFields": "false"},
    )
    return (
        index.select(
            key.alias("_k"), F.concat_ws(" ", key, ts14, js).alias("value")
        )
        .filter(F.col("_k").isNotNull())
        .select("value")
    )
