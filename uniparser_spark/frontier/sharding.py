"""Rendezvous (highest-random-weight) sharding for the frontier.

A 10^10-URL frontier is processed host-partitioned (politeness is
per-host, so a host must never straddle workers).  Assigning hosts to
``n_shards`` fetch shards with ``hash(host) % n`` has the classic
failure: resizing n remaps ~(1 - 1/n) of ALL hosts, invalidating every
per-shard state file (seen-delta locality, politeness token state,
per-shard WARC segments).  Rendezvous hashing (Thaler & Ravishankar)
assigns each host to ``argmax_k weight(host, k)`` — when a shard is
ADDED only the hosts whose new argmax IS the new shard move
(expected 1/(n+1) of them), and removing a shard moves only that
shard's hosts.  No ring metadata, no virtual nodes, pure math — ideal
for Spark where the assignment must be recomputable per-task with no
coordination.

Scale shape: the weight table is a per-host array expression
(n_shards entries, n_shards ≤ a few thousand) reduced in place with
array_max over (weight, shard) structs — a pure codegen projection,
no shuffle, no UDF.  The emitted (host, shard) relation broadcasts
into the frontier join.

``impl='expr'`` uses the portable md5-prefix weight so the DuckDB
oracle reproduces every assignment bit-for-bit; ``impl='xxhash64'``
is the production twin (native 64-bit weights, same argmax semantics
— parity on the REMAP PROPERTY, not hash values, same convention as
the dedup family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..textops.exprs import h16


def _weight(host: Column, k: Column, impl: str) -> Column:
    tagged = F.concat(host, F.lit(":"), k.cast("string"))
    if impl == "xxhash64":
        return F.xxhash64(tagged)
    return h16(tagged)


def rendezvous_shards(hosts: DataFrame, n_shards: int, impl: str = "expr") -> DataFrame:
    """(host) -> (host, shard) by highest-random-weight.

    shard = argmax over k ∈ [0, n_shards) of weight(host, k), ties
    broken toward the larger k (structs compare lexicographically and
    k is the second field — ties are astronomically unlikely with
    either hash, but the rule keeps both engines deterministic).
    """
    pick = F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_shards - 1)),
            lambda k: F.struct(
                _weight(F.col("host"), k, impl).alias("w"),
                k.cast("int").alias("k"),
            ),
        )
    )
    return hosts.select(
        F.col("host"),
        pick["k"].alias("shard"),
    )


def shard_loads(assigned: DataFrame) -> DataFrame:
    """Shard load report over an assignment: host count and load (the
    summed ``est_pages``, expected pages per host) per shard — the
    balance check a resize decision reads.  One map-side-combined
    groupBy on the shard id."""
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("est_pages").cast("long").alias("load"),
    )
