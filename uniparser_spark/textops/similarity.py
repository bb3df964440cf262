"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query side is tiny and **broadcast**, so the plan is a broadcast
  nested-loop join + per-query window; the corpus is never shuffled.
- ``rhp_signatures`` / ``rhp_lsh_topk`` / ``rhp_multiprobe_topk``: the
  scale path — deterministic random-hyperplane LSH.  The ±1 hyperplane
  coefficients depend only on (table, plane, dim), so they are computed
  ONCE driver-side (md5 parity, identical to what the DuckDB oracle
  derives inline) and closed over by an Arrow pandas UDF that signs the
  dot products with a sequential per-dimension fold — bit-identical to
  the SQL left-fold, but vectorized across rows instead of interpreted
  per element.  Candidates share a (table, bucket) key, then exact
  cosine reranks.  Bucket keys are uniform → skew-free shuffle; at
  100 TB the corpus-side signature table is narrow (id + bucket) and
  the exact rerank touches only same-bucket candidates.  Multiple OR'd
  tables (multiprobe) recover the recall a single projection loses.
- ``embedding_dup_pairs``: near-duplicate detection by cosine ≥ τ over a
  capped id range (the quadratic verifier).
- ``rhp_candidate_pairs`` + ``embedding_verified_pairs``: the production
  embedding near-dup pipeline — LSH-bucketed candidate generation over
  the NARROW (id, bucket) signature table, candidate-id semi-join to
  fetch vectors, exact cosine verification of only the candidate pairs
  (mirror of textops.dedup.verified_near_dups).

All arithmetic is double-precision with sequential fold order so DuckDB
reproduces values exactly (see .exprs.dot); similarities are rounded to
6 dp before emission and ranking, making top-k ties deterministic.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List, Optional

from pyspark.sql import Column, DataFrame, Window, functions as F

from .exprs import cosine


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector (id <
    n_queries) the k nearest corpus vectors (self excluded).

    Returns (qid, vec_id, sim) with sim rounded to 6 dp; ordering ties
    broken by vec_id so results are deterministic.
    """
    base = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    sims = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def embedding_dup_pairs(emb: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs (id1 < id2, sim ≥ 0.35) over ids
    below 300 — the quadratic verifier; the scale composition is
    ``embedding_verified_pairs`` (LSH candidates → exact verify)."""
    base = emb.filter(F.col("vec_id") < 300).select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("v")
    )
    a = base.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    b = base.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(cosine(F.col("v1"), F.col("v2")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= 0.35)
    )


# ------------------------------------------------------- RHP-LSH signatures


def hyperplane_coefs(
    n_planes: int, dims: int, table: Optional[int] = None
) -> List[List[float]]:
    """The ±1 hyperplane coefficient matrix (n_planes × dims).

    coef(p, d) = parity of the first hex char of md5("p:d") (or
    md5("t:p:d") for OR'd table t), mapped to ±1 — exactly the value the
    DuckDB oracle derives inline with
    ``(ascii(substr(md5(p||':'||d),1,1)) % 2) * 2 - 1``.  Computing the
    n_planes×dims constants once on the driver (instead of re-deriving
    them per row in interpreted array lambdas) is what makes the
    signature step a handful of vectorized flops per row.
    """
    out: List[List[float]] = []
    for p in range(1, n_planes + 1):
        row = []
        for d in range(1, dims + 1):
            key = f"{p}:{d}" if table is None else f"{table}:{p}:{d}"
            h = hashlib.md5(key.encode()).hexdigest()
            row.append(float((ord(h[0]) % 2) * 2 - 1))
        out.append(row)
    return out


def rhp_signatures(
    emb: DataFrame,
    n_planes: int = 6,
    dims: int = 64,
    n_tables: Optional[int] = None,
) -> DataFrame:
    """Per-vector RHP-LSH bucket(s) via an Arrow pandas UDF.

    Returns (id, v: array<double>, bucket: long) — or, with ``n_tables``,
    (id, v, buckets: array<long>) with one independent bucket per OR'd
    table (tables are 0-indexed; table t uses planes seeded "t:p:d").

    Bit parity with the SQL fold: the dot product accumulates per
    dimension in index order (vectorized across the row batch), and
    v·(±1) is an exact sign flip, so every partial sum is IEEE-identical
    to DuckDB's sequential list_sum.  Narrow transformation, no shuffle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    tables = [None] if n_tables is None else list(range(n_tables))
    coef_sets = [hyperplane_coefs(n_planes, dims, table=t) for t in tables]
    multi = n_tables is not None
    bucket_field = (
        StructField("buckets", ArrayType(LongType()), False)
        if multi
        else StructField("bucket", LongType(), False)
    )
    schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("v", ArrayType(DoubleType()), False),
            bucket_field,
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            V = np.stack(batch["v"].to_numpy())  # (n, dims) float64
            per_table = []
            for coefs in coef_sets:
                bucket = np.zeros(n, dtype=np.int64)
                for p in range(n_planes):
                    row = coefs[p]
                    acc = np.zeros(n, dtype=np.float64)
                    # sequential per-dim fold == DuckDB list_sum order;
                    # each step is one vectorized add over the batch
                    for d in range(dims):
                        acc = acc + (V[:, d] if row[d] > 0 else -V[:, d])
                    bucket += (acc >= 0).astype(np.int64) << p
                per_table.append(bucket)
            out = {
                "vec_id": batch["vec_id"].astype("int64"),
                "v": batch["v"],
            }
            if multi:
                stacked = np.stack(per_table, axis=1)  # (n, n_tables)
                out["buckets"] = list(stacked)
            else:
                out["bucket"] = pd.Series(per_table[0])
            yield pd.DataFrame(out)

    base = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    return base.mapInPandas(run, schema=schema)


def rhp_lsh_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_planes: int = 6,
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: single-table LSH-bucket candidate generation +
    exact cosine rerank within the query's bucket.

    Recall < 1 by construction (ANN); the candidate join is an equi-join
    on the bucket key instead of a full cross join, which is what makes
    this the 100 TB path.  ``rhp_multiprobe_topk`` is the
    recall-hardened variant.
    """
    sig = rhp_signatures(
        emb, n_planes=n_planes, dims=dims
    )
    # filter BEFORE the signature UDF on the query branch: Catalyst
    # cannot push a filter through mapInPandas, so building q from sig
    # would re-sign the whole corpus just to keep n_queries rows
    q = rhp_signatures(
        emb.filter(F.col("vec_id") < n_queries),
        n_planes=n_planes, dims=dims,
    ).select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("bucket"))
    cands = (
        sig.join(F.broadcast(q), "bucket")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def rhp_multiprobe_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_planes: int = 6,
    dims: int = 64,
) -> DataFrame:
    """Recall-hardened ANN: candidates are the UNION over 3
    independent hash tables of same-bucket vectors (classic OR'd-table
    LSH), deduped before one exact cosine rerank per candidate.

    Per-table recall loss is independent, so missing a true neighbor in
    all T tables decays exponentially with T — this is the knob that
    keeps recall up at corpus scale without widening any single bucket.
    """
    sig = rhp_signatures(emb, n_planes=n_planes, dims=dims, n_tables=3)
    e = sig.select(
        F.col("vec_id"), F.col("v"), F.posexplode("buckets").alias("t", "bucket")
    )
    # query branch: filter below the signature UDF (see rhp_lsh_topk)
    q = rhp_signatures(
        emb.filter(F.col("vec_id") < n_queries),
        n_planes=n_planes, dims=dims, n_tables=3,
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.posexplode("buckets").alias("t", "bucket"),
    )
    cands = (
        e.join(F.broadcast(q), ["t", "bucket"])
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
        .dropDuplicates(["qid", "vec_id"])
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


# ----------------------------------------- embedding near-dup scale pipeline


def rhp_candidate_pairs(
    emb: DataFrame,
    n_planes: int = 10,
    dims: int = 64,
) -> DataFrame:
    """LSH near-dup candidate pairs (id1 < id2, distinct): two vectors
    are candidates iff they share a bucket in EITHER of 2 OR'd tables.

    The self-join runs over the NARROW exploded (t, bucket, id) relation
    — vectors never cross this shuffle; candidate volume is tuned by
    n_planes (buckets = 2^n_planes per table).
    """
    sig = rhp_signatures(emb, n_planes=n_planes, dims=dims, n_tables=2)
    narrow = sig.select(
        F.col("vec_id"), F.posexplode("buckets").alias("t", "bucket")
    ).localCheckpoint(eager=False)
    a, b = narrow.alias("a"), narrow.alias("b")
    return (
        a.join(b, ["t", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
        )
        .distinct()
    )


def embedding_verified_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 10,
    dims: int = 64,
) -> DataFrame:
    """The production embedding near-dup pipeline: RHP-LSH candidate
    generation followed by exact cosine verification of ONLY the
    candidate pairs (the embedding mirror of
    ``textops.dedup.verified_near_dups``).

    Scale shape: the quadratic work is LSH-bounded; vectors are fetched
    for candidate ids only (left-semi join before the pair join), and
    the per-pair cosine is computed by an Arrow pandas UDF with the same
    sequential per-dimension fold as the SQL oracle (bit-identical),
    vectorized across the candidate batch.  Rounding to 6 dp happens
    JVM-side (F.round) to keep decimal-rounding semantics aligned with
    every other query.  Returns (id1, id2, sim ≥ threshold).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    pairs = rhp_candidate_pairs(emb, n_planes=n_planes, dims=dims).localCheckpoint(
        eager=True
    )
    cand_ids = (
        pairs.select(F.col("id1").alias("vec_id"))
        .union(pairs.select(F.col("id2").alias("vec_id")))
        .distinct()
    )
    vecs = (
        emb.join(cand_ids, "vec_id", "left_semi")
        .select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    )
    a = vecs.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    b = vecs.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    joined = pairs.join(a, "id1").join(b, "id2")

    schema = StructType(
        [
            StructField("id1", LongType(), False),
            StructField("id2", LongType(), False),
            StructField("sim_raw", DoubleType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            V1 = np.stack(batch["v1"].to_numpy())
            V2 = np.stack(batch["v2"].to_numpy())
            dot = np.zeros(n, dtype=np.float64)
            n1 = np.zeros(n, dtype=np.float64)
            n2 = np.zeros(n, dtype=np.float64)
            # sequential per-dim fold == DuckDB list_sum order
            for d in range(dims):
                x, y = V1[:, d], V2[:, d]
                dot = dot + x * y
                n1 = n1 + x * x
                n2 = n2 + y * y
            sim = dot / (np.sqrt(n1) * np.sqrt(n2))
            yield pd.DataFrame(
                {
                    "id1": batch["id1"].astype("int64"),
                    "id2": batch["id2"].astype("int64"),
                    "sim_raw": sim,
                }
            )

    return (
        joined.mapInPandas(run, schema=schema)
        .select("id1", "id2", F.round(F.col("sim_raw"), 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def ivf_topk(
    emb: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    n_queries: int = 8,
    k: int = 5,
) -> DataFrame:
    """IVF-flat approximate nearest neighbor: the inverted-file scale
    path next to the RHP-LSH family (``rhp_lsh_topk``).

    Index build (offline at scale, inline here): every corpus vector is
    assigned to its nearest of ``n_cells`` centroids — the IVF cell.
    Centroids are the vectors with id < n_cells (the same deterministic
    init as ``centroid_assign``, so the cell structure is exactly
    reproducible across engines/retries).  Query: each query vector
    (id < n_queries) probes its ``nprobe`` nearest cells and runs exact
    cosine ONLY against vectors in those cells; top-k per query, ties
    broken by id, sims rounded to 6 dp pre-ranking.

    Scale shape: centroids broadcast (n_cells rows, one pass over the
    corpus to build the cell index — materialized once in production,
    PARTITIONED BY cell so a probe is partition pruning, not a
    shuffle); the query→cell probe list is n_queries × nprobe rows and
    broadcast, so the candidate restriction is a broadcast semi-join on
    the cell id — corpus embeddings never shuffle, and the exact-rerank
    work is |probed cells| / n_cells of brute force.  Recall/cost vs
    the exact baseline is pinned in tests/test_textops.py."""
    base = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    cents = base.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    # cell index: one broadcast pass, argmax over n_cells sims.  The
    # argmax is a max_by-style struct aggregation, NOT a window: all
    # n_cells rows of a group are co-located (broadcast cross join), so
    # the partial aggregate combines them map-side and the Exchange
    # carries ONE narrow row per corpus vector — a window here would
    # shuffle N×n_cells rows each dragging the full embedding along.
    # Tie-break mirrors (desc csim, asc cell) via (csim, -cell) max.
    cells = (
        base.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "v",
            "cell",
            F.round(cosine(F.col("cv"), F.col("v")), 6).alias("csim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell")).alias("neg_cell"),
                    F.col("cell"),
                )
            ).alias("m"),
            F.first("v").alias("v"),
        )
        .select("vec_id", "v", F.col("m.cell").alias("cell"))
    )
    # probe list: per query the nprobe nearest cells (tiny, broadcast)
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pw = Window.partitionBy("qid").orderBy(F.desc("psim"), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "qid",
            "qv",
            "cell",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("psim"),
        )
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qv", "cell")
    )
    # exact rerank restricted to probed cells
    sims = (
        cells.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def centroid_assign(emb: DataFrame, k: int = 8) -> DataFrame:
    """Nearest-centroid assignment — the E-step of spherical k-means,
    used standalone for corpus diversity bucketing (balance a training
    mix across semantic clusters, or cap per-cluster contributions the
    way stratified_sample caps per-language).

    Centroids are the vectors with id < k: a deterministic k-means++-
    free init, chosen so the assignment is exactly reproducible across
    engines and retries (the property a sampled init lacks; production
    iterates the M-step from here, each iteration another broadcast
    pass).  Output: (id, centroid_id, sim 6-dp), ties broken by
    centroid_id.

    Scale: centroids broadcast (k rows); the corpus side is one
    projected scan + in-stage cross product against k, then a max_by
    struct aggregation for the argmax — the k sims of a group are
    co-located so the partial aggregate combines map-side and the
    Exchange carries one narrow (id, centroid, sim) row per vector; no
    wide shuffle of embeddings, no window sort."""
    base = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    cents = base.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    sims = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        F.round(cosine(F.col("cv"), F.col("v")), 6).alias("sim"),
    )
    # tie-break (desc sim, asc centroid_id) == max of (sim, -centroid_id)
    return (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim"),
                    (-F.col("centroid_id")).alias("neg_cid"),
                    F.col("centroid_id"),
                )
            ).alias("m")
        )
        .select("vec_id", F.col("m.centroid_id").alias("centroid_id"), F.col("m.sim").alias("sim"))
    )


def quantize_audit(emb: DataFrame) -> DataFrame:
    """Symmetric-absmax int8 quantization audit — the fidelity check run
    before an ANN deployment swaps float32 vectors for int8 (4x smaller
    index, SIMD int dot products).  Per vector: quantize with
    scale = absmax/127, q_i = round(v_i/scale) (so |q_i| <= 127 by
    construction), dequantize, and report the reconstruction error and
    the cosine between the original and its dequantized self — the
    number that predicts recall loss downstream.

    Output: (id, n_dims, scale, max_abs_err, mse, cos_q) with scale/mse
    at 10 dp, max_abs_err at 8 dp, cos_q at 6 dp (the similarity
    family's tie-stable precision).  An all-zero vector quantizes to
    itself: scale 0, errors 0, cos_q defined as 1.

    Determinism/scale: a pure per-row projection — zero Exchange, zero
    Python; every fold (absmax, error sums, cosine) is the sequential
    left-fold the DuckDB oracle reproduces exactly (see .exprs.dot),
    and round() on positives agrees across both engines.
    """
    v = _as_double(F.col("embedding"))
    base = emb.select(F.col("vec_id"), v.alias("v"))
    absmax = F.array_max(F.transform(F.col("v"), F.abs))
    scale = absmax / F.lit(127.0)
    dq = F.transform(
        F.col("v"), lambda x: F.round(x / F.col("_scale"), 0) * F.col("_scale")
    )
    staged = base.select(
        F.col("vec_id"),
        "v",
        scale.alias("_scale"),
    ).select(
        F.col("vec_id"),
        "v",
        "_scale",
        F.when(F.col("_scale") == 0.0, F.col("v")).otherwise(dq).alias("_dq"),
    )
    err = F.zip_with(F.col("v"), F.col("_dq"), lambda a, b: a - b)
    sum_sq = F.aggregate(
        err, F.lit(0.0), lambda acc, x: acc + x * x
    )
    from .exprs import dot as _dot

    cos_q = F.when(F.col("_scale") == 0.0, F.lit(1.0)).otherwise(
        _dot(F.col("v"), F.col("_dq"))
        / (
            F.sqrt(_dot(F.col("v"), F.col("v")))
            * F.sqrt(_dot(F.col("_dq"), F.col("_dq")))
        )
    )
    return staged.select(
        F.col("vec_id"),
        F.size("v").alias("n_dims"),
        F.round("_scale", 10).alias("scale"),
        F.round(F.array_max(F.transform(err, F.abs)), 8).alias("max_abs_err"),
        F.round(sum_sq / F.size("v"), 10).alias("mse"),
        F.round(cos_q, 6).alias("cos_q"),
    )


def hard_negatives(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 3,
    dup_threshold: float = 0.9,
    floor: float = 0.0,
) -> DataFrame:
    """Hard-negative mining for contrastive / bi-encoder training: per
    anchor (id < ``n_queries``), the ``k`` most-similar corpus vectors
    strictly BELOW the near-duplicate bar and at/above ``floor``.

    The negatives that actually teach an embedding model are the
    maximally-confusable non-duplicates — random negatives are too
    easy, and anything at/above ``dup_threshold`` is a probable
    positive whose mislabeling as a negative poisons the loss (the
    same leakage failure ``leakage_split`` guards against on the text
    side).  ``floor`` drops the uninformative tail so the emitted set
    stays small per anchor.

    Test-scale path: brute-force scoring against the broadcast anchor
    set (:func:`cosine_topk`'s plan plus the two gates — the corpus
    never shuffles, anchors broadcast).  At 100 TB the same contract
    composes from the bucketed path: candidates from
    :func:`rhp_multiprobe_topk`, near-dup exclusion via
    :func:`embedding_verified_pairs`; rank/sim semantics unchanged.

    Returns ``(qid, vec_id, rank, sim)`` — rank 1 = hardest negative;
    sim rounded to 6 dp before ranking, ties broken by ``vec_id``.
    """
    base = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    sims = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("sim"),
        )
        .filter((F.col("sim") < dup_threshold) & (F.col("sim") >= floor))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "rank", "sim")
    )


def centroid_update(emb: DataFrame, k: int = 8) -> DataFrame:
    """One full Lloyd iteration (E+M step) of spherical k-means:
    assign every vector to its nearest centroid (:func:`centroid_assign`
    semantics — deterministic id<k init, broadcast centroids, max_by
    argmax), then recompute each centroid as the member mean and report
    how far it moved.

    This is the missing M-step that turns the diversity-bucketing
    assignment into an iterable clustering: production runs
    assign→update until max shift < ε, re-broadcasting the k new
    centroids each round (k × dim doubles — trivially broadcastable at
    any corpus size).

    Scale shape: the M-step's vector mean runs as posexplode →
    map-side-combined groupBy(centroid, dim) — the Exchange carries at
    most k × dim partial-sum rows PER PARTITION (k=10³, dim=10³ →
    ~10⁶ narrow rows regardless of corpus size), never the embeddings
    themselves; the k-row shift join is a broadcast.  No collect, no
    driver-side math.

    Returns one row per non-empty cluster: ``(centroid_id, n_members,
    mean_sim, shift)`` — mean member cosine to the OLD centroid
    (cohesion), and the L2 distance the centroid moved (convergence
    signal), both rounded.
    """
    base = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    assigned = centroid_assign(emb, k)
    # barrier: members is referenced by BOTH the M-step sums and the
    # cohesion aggregate — unchecked, the assignment cross-product runs
    # twice (measured 17 Exchanges -> 5).  Caching assignment+vector is
    # the canonical k-means trade (every implementation persists the
    # dataset between iterations); it is |corpus| x dim doubles.
    members = assigned.join(base, "vec_id").localCheckpoint(eager=False)
    sums = (
        members.select(
            "centroid_id", "sim", F.posexplode("v").alias("dim", "x")
        )
        .groupBy("centroid_id", "dim")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
    )
    new_c = sums.groupBy("centroid_id").agg(
        F.max("n").alias("n_members"),
        F.array_sort(
            F.collect_list(F.struct("dim", (F.col("sx") / F.col("n")).alias("m")))
        ).alias("_nc"),
    )
    cohesion = members.groupBy("centroid_id").agg(
        F.round(F.avg("sim"), 6).alias("mean_sim")
    )
    old_c = base.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("_oc")
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.transform("_nc", lambda s: s["m"]),
            "_oc",
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        new_c.join(cohesion, "centroid_id")
        .join(F.broadcast(old_c), "centroid_id")
        .select(
            "centroid_id",
            "n_members",
            "mean_sim",
            F.round(F.sqrt(diff2), 6).alias("shift"),
        )
    )


def embedding_health(emb: DataFrame, expected_dim: int = 64) -> DataFrame:
    """Index-health audit an ANN build should run BEFORE spending a
    cluster-day on it: one row summarizing everything that silently
    breaks similarity search — NULL vectors, wrong dimensionality,
    NaN/Inf components, zero-norm vectors (cosine undefined), and the
    L2-norm distribution (a collapsed or bimodal norm histogram is the
    classic sign of a bad encoder batch or mixed checkpoints).

    One projected scan + one global aggregate: per-vector norm and
    flag columns are pure codegen folds (F.aggregate / exists), the
    percentile is Spark ``percentile`` == DuckDB ``quantile_cont``
    (type-7) over one double per vector — no shuffle wider than that.

    Returns ``(n_vecs, n_null, n_wrong_dim, n_nonfinite, n_zero_norm,
    norm_p10, norm_p50, norm_p90)``, norms rounded to 4 dp.
    """
    v = F.col("embedding")
    dv = F.transform(v, lambda x: x.cast("double"))
    nonfinite = F.exists(dv, lambda x: x.isNaN() | (F.abs(x) > 1e308))
    norm2 = F.aggregate(dv, F.lit(0.0), lambda a, x: a + x * x)
    staged = emb.select(
        v.isNull().cast("int").alias("is_null"),
        F.when(v.isNull() | (F.size(v) != expected_dim), 1)
        .otherwise(0)
        .alias("wrong_dim"),
        F.when(v.isNull(), 0).otherwise(nonfinite.cast("int")).alias("nonfin"),
        F.when(v.isNull(), F.lit(None).cast("double"))
        .otherwise(F.sqrt(norm2))
        .alias("norm"),
    )
    zero = F.when(F.col("norm") == 0.0, 1).otherwise(0)
    pct = F.percentile(
        F.col("norm"), F.array(F.lit(0.1), F.lit(0.5), F.lit(0.9))
    )
    p = lambda i: F.round(pct.getItem(i), 4)  # noqa: E731
    return staged.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("is_null").cast("long").alias("n_null"),
        F.sum("wrong_dim").cast("long").alias("n_wrong_dim"),
        F.sum("nonfin").cast("long").alias("n_nonfinite"),
        F.sum(zero).cast("long").alias("n_zero_norm"),
        p(0).alias("norm_p10"),
        p(1).alias("norm_p50"),
        p(2).alias("norm_p90"),
    )
