"""URL-seen membership: partitioned Bloom pre-filter + exact anti-join.

The reference has no seen-set (it re-crawls repeats, crawler.py:130-139);
the north rule adds one at 10^10-URL scale.  Design:

- **keys**: ``url_canon`` (deterministic canonicalizer, identity on
  reference inputs) hashed with ``xxhash64`` — the 64-bit membership
  key; ``pmod(hash, n_buckets)`` routes to a bloom bucket.
- **bloom state**: one bitmap per bucket, built by a grouped
  ``applyInPandas`` on the bucket id.  That has no map-side partial
  aggregation: every seen row is shuffled to its bucket's group, and
  each group builds its bitmap from all of its hashes.  Buckets bound
  memory: each bitmap sizes to its expected share, and probe joins
  shuffle on the bucket id instead of broadcasting one giant filter.
  At 10^10 URLs × 10 bits/URL that is ~12.5 GB of bitmaps across (say)
  4096 buckets — 3 MB each, trivially co-partitioned with candidates;
  never driver-resident.
- **probe**: candidates ⟖ bloom (bucket equi-join) → vectorized bit
  tests in numpy → definite-new rows skip the expensive exact check;
  only bloom-positives anti-join the exact seen table (false-positive
  rate ~1%, so the exact anti-join sees ~1% of candidate volume).  Both
  branches read the probe's output; the crawl engine caches it, so the
  probe's Python pass runs once a round.

The exact table keeps (url_hash) and is the source of truth; bloom is a
rebuildable accelerator, so checkpoint/resume only persists the exact
table and re-derives bitmaps.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, BooleanType, IntegerType, StructField, StructType

_K_HASHES = 5  # probes per key; with 10 bits/key gives ~1% fp rate
_BITS_PER_KEY = 10
_MIN_BITS = 1 << 13

BLOOM_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bitmap", BinaryType(), False),
    ]
)


def add_url_keys(df: DataFrame) -> DataFrame:
    """Add canonical form (``url_canon``), 64-bit membership key
    (``url_hash``), and ``host`` columns.

    Mirrors :func:`uniparser_spark.urls.canonicalize_url` (lowercase
    scheme+host, strip default port, drop trailing '?') as native
    expressions — no Python, stays inside whole-stage codegen; parity is
    unit-tested against the Python canonicalizer.
    """
    url = F.col("url")
    scheme = F.lower(F.regexp_extract(url, r"^([^:/?#]+)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[^:/?#]+://([^/?#]*)", 1))
    tail = F.regexp_extract(url, r"^[^:/?#]+://[^/?#]*([\s\S]*)$", 1)
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    canon = F.regexp_replace(F.concat(scheme, F.lit("://"), host, tail), r"\?+$", "")
    canon = F.when(url.contains("://"), canon).otherwise(F.regexp_replace(url, r"\?+$", ""))
    host = F.when(url.contains("://"), host).otherwise(F.lit(""))
    return (
        df.withColumn("url_canon", canon)
        .withColumn("url_hash", F.xxhash64(F.col("url_canon")))
        .withColumn("host", host)
    )


def surt_key_expr():
    """SURT (Sort-friendly URI Reordering Transform) key as a native
    expression — the canonical ordering of web-archive indexes (CDX /
    OpenWayback): ``https://www.a.example.org:8080/p?q=1#f`` →
    ``org,example,a:8080)/p?q=1``.

    Reversing the host labels makes a domain's URLs LEXICOGRAPHICALLY
    CONTIGUOUS, so a frontier/index table written
    ``repartitionByRange(surt)`` + sorted-within-partitions gets (a)
    per-host locality for politeness/trap scans WITHOUT a hash shuffle
    (a range scan replaces the groupBy exchange) and (b) the exact
    shard layout CDX cluster indexes use, making our index files
    mergeable with web-archive tooling.

    Subset implemented (each step a codegen regexp, no Python):
    scheme and fragment dropped, userinfo dropped, host lowercased,
    leading ``www.`` stripped, default ports (http:80/https:443)
    stripped with other ports kept, empty path → ``/``.  Non-absolute
    URLs (no ``scheme://``) yield NULL — error-as-data, same contract
    as the CDX scanner.
    """
    url = F.col("url")
    scheme = F.lower(F.regexp_extract(url, r"^([^:/?#]+)://", 1))
    hostport = F.lower(
        F.regexp_extract(url, r"^[^:/?#]+://(?:[^/?#@]*@)?([^/?#]*)", 1)
    )
    # path?query with the fragment cut; empty path -> "/"
    tail = F.regexp_extract(url, r"^[^:/?#]+://[^/?#]*([^#]*)", 1)
    tail = F.when(tail == "", F.lit("/")).otherwise(tail)
    host = F.regexp_extract(hostport, r"^([^:]*)", 1)
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    port = (
        F.when((scheme == "http") & (port == "80"), F.lit(""))
        .when((scheme == "https") & (port == "443"), F.lit(""))
        .otherwise(port)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.concat_ws(",", F.reverse(F.split(host, r"\.")))
    surt = F.concat(
        rev,
        F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        F.lit(")"),
        tail,
    )
    return F.when(url.contains("://"), surt).otherwise(
        F.lit(None).cast("string")
    )


def add_surt_keys(df: DataFrame) -> DataFrame:
    """Add ``surt`` plus ``surt_host`` (the reversed-host prefix before
    ``)`` — the range-partitioning key: all of a registrable domain's
    subdomains sort together under its label prefix)."""
    out = df.withColumn("surt", surt_key_expr())
    return out.withColumn(
        "surt_host", F.regexp_extract(F.col("surt"), r"^([^)]*)\)", 1)
    )


def _bit_positions(hashes: np.ndarray, m_bits: int) -> Iterator[np.ndarray]:
    """k derived probe positions per xxhash64 key (double hashing)."""
    h = hashes.astype(np.uint64)
    h1 = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    for i in range(_K_HASHES):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


class BloomSeenFilter:
    """Distributed bloom state over (bucket, bitmap) rows."""

    def __init__(self, n_buckets: int = 64):
        self.n_buckets = n_buckets

    def _m_bits(self, expected_per_bucket: int) -> int:
        m = max(_MIN_BITS, expected_per_bucket * _BITS_PER_KEY)
        return 1 << math.ceil(math.log2(m))  # power of two for cheap mod

    def build(self, seen: DataFrame, expected_total: Optional[int] = None) -> DataFrame:
        """seen(url_hash) -> bloom(bucket, bitmap), one row per bucket.
        ``groupBy("bucket").applyInPandas``: no partial aggregation, so
        the whole seen input is shuffled by bucket, and each bucket's
        bitmap is built from all of its hashes in one Python call."""
        if expected_total is None:
            expected_total = max(1, seen.count())
        m_bits = self._m_bits(expected_total // self.n_buckets + 1)
        n_buckets = self.n_buckets

        def build_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
            hashes = pdf["url_hash"].to_numpy()
            for pos in _bit_positions(hashes, m_bits):
                np.bitwise_or.at(bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
            return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [bitmap.tobytes()]})

        keyed = seen.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))
        return keyed.groupBy("bucket").applyInPandas(build_bucket, schema=BLOOM_SCHEMA)

    def probe(self, candidates: DataFrame, bloom: DataFrame) -> DataFrame:
        """Add ``maybe_seen`` boolean to candidates(url_hash, ...).

        Broadcast bucket equi-join then a vectorized membership test;
        rows with no bloom bucket are definitely new.  Every candidate
        row carries its bucket's whole bitmap through the join and the
        Arrow batch.
        """
        out_schema = StructType(
            candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
        )
        cand_cols = [f.name for f in candidates.schema.fields]
        joined = candidates.withColumn(
            "bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")
        ).join(F.broadcast(bloom), "bucket", "left")

        def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.reset_index(drop=True)
                flags = np.zeros(len(pdf), dtype=bool)
                present = pdf["bitmap"].notna().to_numpy()
                if present.any():
                    for bitmap_bytes in pdf.loc[present, "bitmap"].unique():
                        mask = present & (pdf["bitmap"] == bitmap_bytes).to_numpy()
                        bitmap = np.frombuffer(bitmap_bytes, dtype=np.uint8)
                        m_bits = len(bitmap) * 8
                        hashes = pdf.loc[mask, "url_hash"].to_numpy()
                        hit = np.ones(int(mask.sum()), dtype=bool)
                        for pos in _bit_positions(hashes, m_bits):
                            hit &= (bitmap[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
                        flags[mask] = hit
                out = pdf[cand_cols].copy()
                out["maybe_seen"] = flags
                yield out

        return joined.mapInPandas(check, schema=out_schema)

    def filter_new(self, candidates: DataFrame, seen: DataFrame, bloom: Optional[DataFrame] = None) -> DataFrame:
        """candidates minus seen.  With bloom: probe, then
        ``filter_probed``."""
        if bloom is None:
            return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
        return self.filter_probed(self.probe(candidates, bloom), seen)

    @staticmethod
    def filter_probed(flagged: DataFrame, seen: DataFrame) -> DataFrame:
        """``probe`` output minus seen: definite-new rows pass straight
        through; only bloom-positives pay the exact anti-join.  Both
        branches read ``flagged``: cache it, or the probe runs twice."""
        definite_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        suspects = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        verified_new = suspects.join(seen.select("url_hash"), "url_hash", "left_anti")
        return definite_new.unionByName(verified_new)

    def merge(self, *blooms: DataFrame) -> DataFrame:
        """Union bloom states from multiple crawl shards into one.

        Bloom filters union by bitwise OR — the merged filter answers
        membership for the UNION of the shards' seen sets with zero
        false negatives (the property federated crawls and
        shard-rebalance cutovers rely on: each shard keeps crawling
        against its local filter, and a periodic merge publishes the
        global one).  Requires every shard to have been built with the
        same ``n_buckets`` AND the same bitmap size per bucket (build
        with a shared ``expected_total``); mismatched sizes hash bit
        positions differently, so the method raises rather than
        silently OR-ing incompatible bitmaps — rebuild from the exact
        tables in that case (bitmaps are rebuildable accelerators by
        design).

        Scale shape: one map-side-combined groupBy(bucket) over
        O(shards × buckets) bitmap rows — for 4096 buckets × 3 MB this
        is a few-GB shuffle that co-partitions with later probes.
        """
        if not blooms:
            raise ValueError("merge() needs at least one bloom state")
        allb = blooms[0]
        for b in blooms[1:]:
            allb = allb.unionByName(b)

        def or_fold(pdf: pd.DataFrame) -> pd.DataFrame:
            sizes = {len(b) for b in pdf["bitmap"]}
            if len(sizes) != 1:
                raise ValueError(
                    "bloom merge: bucket %d has mismatched bitmap sizes %s "
                    "(shards built with different expected_total); rebuild "
                    "from the exact seen tables instead"
                    % (int(pdf["bucket"].iloc[0]), sorted(sizes))
                )
            acc = np.frombuffer(pdf["bitmap"].iloc[0], dtype=np.uint8).copy()
            for raw in pdf["bitmap"].iloc[1:]:
                acc |= np.frombuffer(raw, dtype=np.uint8)
            return pd.DataFrame(
                {"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [acc.tobytes()]}
            )

        return allb.groupBy("bucket").applyInPandas(or_fold, schema=BLOOM_SCHEMA)
