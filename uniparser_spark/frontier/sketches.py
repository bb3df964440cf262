"""Mergeable HyperLogLog registers for frontier-scale distinct counts.

A 10^10-URL frontier needs per-host (and per-shard, per-round) distinct
counts constantly — seen-set sizing, trap scoring, budget split — and
exact ``count(DISTINCT url)`` at that scale is a full shuffle of every
key.  HyperLogLog (Flajolet et al., AofA'07) replaces it with m = 2^p
one-byte registers per group: each value hashes once, lands in one
register, and the register keeps the MAX leading-zero run — so the
whole sketch is a ``groupBy(key, register).agg(max)`` (map-side
combined, narrow rows) and two sketches MERGE by element-wise max,
which is why per-partition sketches compose across executors, rounds,
and even days of crawl history without ever re-touching raw URLs.

Everything here is deterministic and cross-engine exact:

- the hash is the first 15 hex chars of md5 (60 bits, signed-safe in
  every engine) — no engine-private hash function;
- rho (leading-zero count + 1) is computed from ``length(bin(w))``
  (minimal-width binary; identical in Spark and DuckDB), never from
  floating log2;
- the estimator uses only IEEE +,x,/ and pow(2, -M) (exact powers of
  two): ``E = alpha_m * m^2 / (sum 2^-M_j)``, with empty registers
  contributing 2^0.  The classic small-range linear-counting
  correction needs ln(), a transcendental whose last bit differs
  across libm builds — so this module PUBLISHES the sufficient
  statistics (m, n_zero, est_raw) and leaves the correction to the
  consumer, keeping every published column bit-reproducible.

Scale shape: one map-side-combined shuffle on (key, register) — at
most m rows per key survive the combine regardless of input size —
then one map-side-combined shuffle on key.  Raw values never leave
the scan stage.

Reference scope: sketch-based cardinality exists only at cluster
scale; no uniparser counterpart (the reference crawler,
/root/reference/uniparser/crawler.py, is single-process recursion with
no distinct-count machinery at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_HASH_BITS = 60  # 15 hex chars of md5: fits signed 64-bit everywhere
CMS_DEPTH = 4  # hash rows of a count-min sketch


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _rho(w: Column, width: int) -> Column:
    """Leading-zero count of ``w`` in a ``width``-bit field, plus 1.
    length(bin(w)) is the exact bit length (floor(log2 w) + 1) with no
    floating point anywhere; w = 0 means all ``width`` bits are zero.
    """
    return F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width + 1) - F.length(F.bin(w))
    ).cast("int")


def hll_counts(
    df: DataFrame,
    key_col: str,
    val_col: str,
    p: int = 6,
    exact: bool = True,
) -> DataFrame:
    """Per-key HLL cardinality estimate with published sufficient
    statistics.

    Output: (key, m, n_present, n_zero, est) and, when ``exact``,
    ``n_exact`` + ``err`` (signed relative error, rounded) — the
    audit columns a sketch rollout wants at validation scale; at
    production scale ``exact=False`` drops the countDistinct.

    est = round(alpha_m * m^2 / Z, 4) where
    Z = sum(2^-M_j over present registers) + n_zero (empty registers
    contribute 2^0 = 1).

    Z is accumulated SCALED BY 2^(width+1) so every term
    2^(width+1-M_j) is an exact 64-bit integer (the total is bounded
    by m * 2^width = 2^60) — a float sum's result depends on partial-
    aggregation order in its last bits, an integer sum's never does,
    so ``est`` is bit-identical across partitionings, retries, and
    engines.  The numerator constant absorbs the same 2^(width+1)
    factor, an exact exponent shift of the alpha mantissa.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    width = _HASH_BITS - p
    h = _hash60(F.col(val_col))
    regs = (
        df.select(
            F.col(key_col).alias("key"),
            (h % m).cast("int").alias("reg"),
            # shiftright, not division: h is 60 bits and double-typed
            # division would lose exactness past 2^53
            _rho(F.shiftright(h, p), width).alias("rho"),
            F.col(val_col).alias("_v"),
        )
        .groupBy("key", "reg")
        .agg(
            F.max("rho").alias("mx"),
            *([F.countDistinct("_v").alias("nd")] if exact else []),
        )
    )
    scale = width + 1  # max rho, so every scaled term is an integer
    agg = [
        F.count(F.lit(1)).cast("int").alias("n_present"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(scale) - F.col("mx")).cast("long")
        ).alias("zs"),
    ]
    if exact:
        agg.append(F.sum("nd").cast("long").alias("n_exact"))
    per_key = regs.groupBy("key").agg(*agg)
    z_scaled = F.col("zs") + (m - F.col("n_present")) * F.lit(1 << scale)
    est = F.round(F.lit(_alpha(m) * m * m * float(1 << scale)) / z_scaled, 4)
    cols = [
        "key",
        F.lit(m).alias("m"),
        "n_present",
        (F.lit(m) - F.col("n_present")).cast("int").alias("n_zero"),
        est.alias("est"),
    ]
    if exact:
        cols.append(F.col("n_exact"))
        cols.append(
            F.round((est - F.col("n_exact")) / F.col("n_exact"), 4).alias("err")
        )
    return per_key.select(*cols)


def hll_register_arrays(df: DataFrame, p: int = 6) -> DataFrame:
    """Per-host dense register array over distinct ``url`` values
    (length m, zeros for empty registers) — the MERGEABLE
    representation: store one row per (shard, host) and union shards
    with :func:`hll_merge`.
    """
    m = 1 << p
    width = _HASH_BITS - p
    h = _hash60(F.col("url"))
    sparse = (
        df.select(
            F.col("host").alias("key"),
            (h % m).cast("int").alias("reg"),
            _rho(F.shiftright(h, p), width).alias("rho"),
        )
        .groupBy("key", "reg")
        .agg(F.max("rho").alias("mx"))
        .groupBy("key")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("reg", "mx")))
            ).alias("_m")
        )
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.coalesce(F.try_element_at("_m", i), F.lit(0)),
    )
    return sparse.select("key", dense.alias("registers"))


def hll_merge(sketches: DataFrame) -> DataFrame:
    """Union rows of (key, registers) — e.g. per-shard or per-round
    sketches — into one sketch per key by element-wise max.  This is
    the operation that makes the whole design work at 10^10 URLs:
    merging never re-reads values, only m-int arrays.
    """
    lst = F.collect_list("registers")
    return sketches.groupBy("key").agg(
        # seed with the first sketch; max-merge is idempotent, so
        # folding it over itself once more is harmless
        F.aggregate(
            lst,
            F.element_at(lst, 1),
            lambda acc, r: F.zip_with(acc, r, lambda x, y: F.greatest(x, y)),
        ).alias("registers")
    )


def hll_estimate_from_registers(sketches: DataFrame) -> DataFrame:
    """Estimate from a (key, registers) sketch — same published
    statistics as :func:`hll_counts` (minus the exact audit columns),
    so estimate(merge(parts)) is comparable to hll_counts(whole).
    """
    m_col = F.size("registers")
    # p = bit length of m-1 (integer-safe, no floating log2); the
    # scaled-Z device matches hll_counts bit for bit: an empty
    # register (r = 0) contributes exactly 2^scale = 2^(61-p)
    scale = F.lit(_HASH_BITS + 1) - F.length(F.bin(m_col - 1))
    n_present = F.aggregate(
        "registers", F.lit(0), lambda acc, r: acc + (r > 0).cast("int")
    )
    z_scaled = F.aggregate(
        "registers",
        F.lit(0).cast("long"),
        lambda acc, r: acc + F.pow(F.lit(2.0), scale - r).cast("long"),
    )
    alpha = (
        F.when(m_col == 16, F.lit(0.673))
        .when(m_col == 32, F.lit(0.697))
        .when(m_col == 64, F.lit(0.709))
        .otherwise(F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m_col))
    )
    num = alpha * m_col * m_col * F.pow(F.lit(2.0), scale)
    return sketches.select(
        "key",
        m_col.alias("m"),
        n_present.alias("n_present"),
        (m_col - n_present).cast("int").alias("n_zero"),
        F.round(num / z_scaled, 4).alias("est"),
    )


# ----------------------------------------------------- count-min sketch

def cms_counts(df: DataFrame, width: int = 256) -> DataFrame:
    """Mergeable count-min sketch (Cormode & Muthukrishnan '05) of the
    ``host`` frequency distribution: CMS_DEPTH independent hash rows of
    ``width`` counters; each occurrence increments one counter per
    row; two sketches MERGE by element-wise sum — the HLL's additive
    twin, for "how often" instead of "how many distinct".

    The frontier use is hot-key detection without a full groupBy: a
    10^10-row fetch log's per-URL/per-host counts are needle-in-
    haystack (a few hot keys, a huge cold tail), and the CMS answers
    point queries with ε = e/width overestimate at δ = e^-CMS_DEPTH
    confidence while shuffling at most CMS_DEPTH × width counter rows per
    group — per-partition sketches compose across executors, rounds,
    and days exactly like the HLL registers.

    Determinism: row i's bucket is 60-bit md5 of ``i || ':' || key``
    mod width (same portable hash family as :func:`hll_counts`) — the
    DuckDB oracle reproduces every counter bit-exactly.

    Returns one row per (row_idx, bucket) with ``cnt`` —
    the sparse sketch relation (absent bucket = 0).
    """
    rows = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)),
            lambda i: F.struct(
                i.cast("int").alias("row_idx"),
                F.pmod(
                    _hash60(
                        F.concat_ws(":", i.cast("string"), F.col("host"))
                    ),
                    F.lit(width),
                ).cast("int").alias("bucket"),
            ),
        )
    ).alias("_rc")
    return (
        df.select(rows)
        .select("_rc.row_idx", "_rc.bucket")
        .groupBy("row_idx", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    width: int = 256,
) -> DataFrame:
    """Point-query a :func:`cms_counts` sketch: for each ``host`` in
    ``keys``, est = MIN over the CMS_DEPTH rows of its counter (absent
    counter = 0) — an upper bound on the true count, tight for heavy
    hitters (what the sketch exists to find).

    Shape: keys expand to CMS_DEPTH narrow probe rows, LEFT join the
    sparse sketch on (row_idx, bucket), one min-groupBy per key.  The
    sketch side is ≤ CMS_DEPTH × width rows per group — broadcastable at
    any corpus size.

    Returns ``(key, est)``.
    """
    probes = keys.select(F.col("host").alias("key")).distinct().select(
        "key",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("row_idx"),
                    F.pmod(
                        _hash60(F.concat_ws(":", i.cast("string"), F.col("key"))),
                        F.lit(width),
                    ).cast("int").alias("bucket"),
                ),
            )
        ).alias("_rc"),
    ).select("key", "_rc.row_idx", "_rc.bucket")
    return (
        probes.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est"))
    )
