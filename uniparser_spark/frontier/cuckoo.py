"""Partitioned cuckoo-filter sidecar for the URL-seen set.

Complements the Bloom pre-filter (frontier.seen): same bucketed layout
(one filter per ``pmod(url_hash, n_buckets)`` shard, built
distributively with ``applyInPandas``, probed via a broadcast join +
vectorized numpy), but a cuckoo filter additionally supports
**deletion** — the operation a recrawl policy needs: when a URL's
freshness TTL expires, its fingerprint is removed and the URL becomes
schedulable again, without rebuilding the whole seen state (a Bloom
filter can only grow).

Standard 2-choice cuckoo hashing over 16-bit fingerprints, 4 slots per
index, partial-key eviction (Fan et al., "Cuckoo Filter: Practically
Better Than Bloom").  All parameters derive from xxhash64(url_canon) —
the same 64-bit key the rest of the frontier uses — split as
``fp = (key >> 48) & 0xFFFF`` (never 0) and ``i1 = (key >> 16) % m``;
``i2 = i1 ^ (h(fp) % m)`` with a splitmix-style fingerprint hash, so
membership is reproducible from the key alone on any executor.  The
fingerprint comes from the HIGH 16 bits so it shares no entropy with
the shard key (``pmod(key, n_buckets)``, low bits) or the index bits
(16..), keeping the full ~2^-13 per-probe FP rate within a shard.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)

SLOTS = 4  # entries per index (standard (2,4)-cuckoo)
LOAD_FACTOR = 0.84
MAX_KICKS = 500

CUCKOO_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("m_indexes", IntegerType(), False),
        StructField("table", BinaryType(), False),  # uint16[m_indexes * SLOTS]
    ]
)


def _fp_and_index(keys: np.ndarray, m: int) -> Tuple[np.ndarray, np.ndarray]:
    k = keys.astype(np.uint64)
    # high 16 bits: disjoint from the shard key (low bits) and i1 bits
    fp = ((k >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot
    i1 = ((k >> np.uint64(16)) % np.uint64(m)).astype(np.int64)
    return fp, i1


def _alt_index(i: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    # splitmix-style scramble of the fingerprint, mod table size
    h = fp.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    return (i.astype(np.uint64) ^ (h % np.uint64(m))).astype(np.uint64) % np.uint64(m)


class _Shard:
    """Driver/executor-side in-memory shard (numpy uint16 table)."""

    def __init__(self, m_indexes: int, table: Optional[np.ndarray] = None):
        self.m = m_indexes
        self.table = (
            table if table is not None else np.zeros(m_indexes * SLOTS, dtype=np.uint16)
        )

    def _slot_range(self, i: int) -> slice:
        return slice(int(i) * SLOTS, int(i) * SLOTS + SLOTS)

    def insert(self, fp: int, i1: int) -> bool:
        i2 = int(_alt_index(np.array([i1]), np.array([fp], dtype=np.uint16), self.m)[0])
        for i in (i1, i2):
            sl = self.table[self._slot_range(i)]
            empty = np.flatnonzero(sl == 0)
            if empty.size:
                sl[empty[0]] = fp
                return True
        # evict loop
        rng_i = i1
        cur = fp
        for kick in range(MAX_KICKS):
            sl = self._slot_range(rng_i)
            victim_slot = int(sl.start + (kick % SLOTS))
            cur, self.table[victim_slot] = int(self.table[victim_slot]), cur
            rng_i = int(
                _alt_index(
                    np.array([rng_i]), np.array([cur], dtype=np.uint16), self.m
                )[0]
            )
            slr = self.table[self._slot_range(rng_i)]
            empty = np.flatnonzero(slr == 0)
            if empty.size:
                slr[empty[0]] = cur
                return True
        return False  # table over capacity (sized to avoid this)

    def contains_many(self, fps: np.ndarray, i1s: np.ndarray) -> np.ndarray:
        i2s = _alt_index(i1s, fps, self.m)
        out = np.zeros(len(fps), dtype=bool)
        t = self.table
        for j in range(len(fps)):  # small per-bucket batches
            r1 = self._slot_range(int(i1s[j]))
            r2 = self._slot_range(int(i2s[j]))
            out[j] = (t[r1] == fps[j]).any() or (t[r2] == fps[j]).any()
        return out

    def delete_many(self, fps: np.ndarray, i1s: np.ndarray) -> int:
        i2s = _alt_index(i1s, fps, self.m)
        removed = 0
        t = self.table
        for j in range(len(fps)):
            for i in (int(i1s[j]), int(i2s[j])):
                sl = self._slot_range(i)
                hit = np.flatnonzero(t[sl] == fps[j])
                if hit.size:
                    t[sl.start + hit[0]] = 0
                    removed += 1
                    break
        return removed


class CuckooSeenFilter:
    """Distributed cuckoo state over (bucket, m_indexes, table) rows."""

    def __init__(self, n_buckets: int = 64, min_indexes: int = 1024):
        self.n_buckets = n_buckets
        self.min_indexes = min_indexes

    def _m_indexes(self, expected_per_bucket: int) -> int:
        need = int(expected_per_bucket / (SLOTS * LOAD_FACTOR)) + 1
        m = max(self.min_indexes, need)
        return 1 << (m - 1).bit_length()  # power of two

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int")

    def build(self, seen: DataFrame, expected_total: Optional[int] = None) -> DataFrame:
        if expected_total is None:
            expected_total = max(1, seen.count())
        m = self._m_indexes(expected_total // self.n_buckets + 1)

        def build_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            # Grow-and-rebuild on MAX_KICKS overflow: a caller-supplied
            # expected_total that underestimates the real seen size must
            # not silently drop keys (the no-false-negatives contract);
            # m_indexes is stored per shard row, so shards may differ.
            # duplicate url_hash keys can never co-exist beyond 2*SLOTS
            # copies, so dedupe first — growing the table cannot fix
            # duplicates and would double forever
            keys = np.unique(pdf["url_hash"].to_numpy())
            m_local = m
            # cap the doubling: a table with >= 2x slots per key should
            # always succeed; past that something is structurally wrong
            m_cap = max(m_local, 1 << (max(1, 2 * len(keys) - 1).bit_length())) * 4
            while True:
                shard = _Shard(m_local)
                fps, i1s = _fp_and_index(keys, m_local)
                if all(shard.insert(int(fp), int(i1)) for fp, i1 in zip(fps, i1s)):
                    break
                if m_local >= m_cap:
                    raise RuntimeError(
                        f"cuckoo build failed to place {len(keys)} unique "
                        f"keys even at m_indexes={m_local} (cap {m_cap})"
                    )
                m_local *= 2
            return pd.DataFrame(
                {
                    "bucket": [int(pdf["bucket"].iloc[0])],
                    "m_indexes": [m_local],
                    "table": [shard.table.tobytes()],
                }
            )

        keyed = seen.withColumn("bucket", self._bucket_col())
        return keyed.groupBy("bucket").applyInPandas(build_bucket, schema=CUCKOO_SCHEMA)

    def probe(self, candidates: DataFrame, cuckoo: DataFrame) -> DataFrame:
        """Add ``maybe_seen`` to candidates(url_hash, ...): no false
        negatives; false positives ~2^-13 per probe at 16-bit fps."""
        out_schema = StructType(
            candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
        )
        cand_cols = [f.name for f in candidates.schema.fields]
        joined = candidates.withColumn("bucket", self._bucket_col()).join(
            F.broadcast(cuckoo), "bucket", "left"
        )

        def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.reset_index(drop=True)
                flags = np.zeros(len(pdf), dtype=bool)
                present = pdf["table"].notna().to_numpy()
                if present.any():
                    for tbl in pdf.loc[present, "table"].unique():
                        mask = present & (pdf["table"] == tbl).to_numpy()
                        m = int(pdf.loc[mask, "m_indexes"].iloc[0])
                        shard = _Shard(m, np.frombuffer(tbl, dtype=np.uint16).copy())
                        fps, i1s = _fp_and_index(
                            pdf.loc[mask, "url_hash"].to_numpy(), m
                        )
                        flags[mask] = shard.contains_many(fps, i1s)
                out = pdf[cand_cols].copy()
                out["maybe_seen"] = flags
                yield out

        return joined.mapInPandas(check, schema=out_schema)

    def delete(self, cuckoo: DataFrame, expired: DataFrame) -> DataFrame:
        """Remove expired keys (url_hash) from the filter — the recrawl
        path a Bloom filter cannot express.  Returns the updated state."""
        exp = expired.withColumn("bucket", self._bucket_col()).select(
            "bucket", "url_hash"
        )
        joined = cuckoo.join(exp, "bucket", "left")

        def drop(pdf: pd.DataFrame) -> pd.DataFrame:
            first = pdf.iloc[0]
            m = int(first["m_indexes"])
            shard = _Shard(m, np.frombuffer(first["table"], dtype=np.uint16).copy())
            keys = pdf["url_hash"].dropna().to_numpy()
            if keys.size:
                fps, i1s = _fp_and_index(keys, m)
                shard.delete_many(fps, i1s)
            return pd.DataFrame(
                {
                    "bucket": [int(first["bucket"])],
                    "m_indexes": [m],
                    "table": [shard.table.tobytes()],
                }
            )

        return joined.groupBy("bucket").applyInPandas(drop, schema=CUCKOO_SCHEMA)
