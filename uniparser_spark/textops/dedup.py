"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of running these on Spark):

- exact dedup is one hash-groupBy — partial aggregation map-side, one
  shuffle on the 16-byte fingerprint, never on the document text;
- MinHash signatures are computed per-row with array lambdas (no
  shuffle, no Python); LSH banding explodes to ``bands`` rows per doc
  and joins docs on (band_idx, band_key) — the shuffle key is a 32-byte
  hash, uniformly distributed, so no skew; candidate pair volume is
  controlled by (n_hashes, bands) exactly as in the MinHash-LSH
  literature;
- SimHash packs a 16-bit signature per doc; grouping on it is a
  trivially small shuffle;
- n-gram Jaccard is the quadratic verifier — only ever run it on LSH
  candidates (or a capped id range in tests/oracles).

Hashing has two implementations:

- ``impl='pandas'``/``'expr'`` — the portable md5 family from .exprs,
  so the DuckDB oracle reproduces every value bit-for-bit (the
  correctness-gate path);
- ``impl='xxhash64'`` — the PRODUCTION path: Spark's native xxhash64
  inside whole-stage codegen, structured as explode → map-side-combined
  groupBy so no interpreted array lambda and no Python worker touches
  the hot loop.  Signatures/band keys differ from md5 by construction;
  the dual-impl parity tests assert agreement on the VERIFIED PAIR SET
  (what dedup actually emits), not on hash values.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..engine.rows import map_rows
from .exprs import (
    h16,
    md5_bit,
    seeded_h16,
    split_tokens,
    tokens,
    word_grams,
    word_shingles,
)

# MinHash-LSH: LSH_HASHES minima over word 3-shingles, cut into LSH_BANDS
# bands of LSH_HASHES // LSH_BANDS rows.  SimHash: SIMHASH_BITS bits.
LSH_HASHES, LSH_BANDS = 16, 8
SIMHASH_BITS = 16
MIN_COPIES = 2  # a chunk is duplicated when it occurs this often


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Exact duplicate groups by normalized content hash.

    Returns one row per distinct content: (content_fp, n_docs, keep_id)
    where keep_id is the smallest doc id (keep-first policy).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        df.select(F.col("doc_id"), h16(norm).alias("content_fp"))
        .groupBy("content_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    broadcast_ledger: bool = False,
) -> DataFrame:
    """Admit a NEW batch of documents against an existing corpus
    fingerprint ledger — the daily-delta operation a 100 TB corpus
    actually runs (re-shuffling the full corpus per ingest is the
    anti-pattern; the ledger is append-only fingerprints, exactly like
    the frontier's URL-seen set).

    A document is ``admitted`` iff its normalized-content fingerprint
    is absent from the ledger AND it is the keep-first (min id) holder
    of that fingerprint within the batch.  Every row is kept with a
    verdict — error/duplicate-as-data, same contract as the cleaning
    family:

    - ``reason = 'new'``        admitted;
    - ``reason = 'dup_corpus'`` fingerprint already in the ledger;
    - ``reason = 'dup_batch'``  another batch doc (smaller id) owns it.

    The ledger update is ``admitted`` rows' fingerprints appended —
    no rewrite of prior state.

    Scale shape: the batch shuffles only (id, 16-byte fp) rows for the
    in-batch election, then probes the ledger fp-on-fp.  At 10^10
    ledger rows, store the ledger bucketed by ``content_fp`` and write
    batch fps through the same bucketing — the probe join then runs
    with ZERO Exchange on the ledger side (the bucketed-join demo in
    tools/bucketed_join_demo.py shows the deployment); for 10^5-10^7
    row ledgers pass ``broadcast_ledger=True`` instead.  Document text
    never shuffles either way.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    batch = new_docs.select(F.col("doc_id"), h16(norm).alias("content_fp"))
    keep = batch.groupBy("content_fp").agg(F.min("doc_id").alias("_keep"))
    ledger = seen_fps.select(F.col("content_fp")).distinct().withColumn(
        "_seen", F.lit(1)
    )
    if broadcast_ledger:
        ledger = F.broadcast(ledger)
    return (
        batch.join(keep, "content_fp")
        .join(ledger, "content_fp", "left")
        .select(
            F.col("doc_id"),
            F.col("content_fp"),
            (
                F.col("_seen").isNull() & (F.col("doc_id") == F.col("_keep"))
            ).cast("int").alias("admitted"),
            F.when(F.col("_seen").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("_keep"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("reason"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_k: int = 3,
    impl: str = "pandas",
) -> DataFrame:
    """Per-doc MinHash signature: array of n_hashes 16-hex-char minima
    over word shingle hashes.  Narrow transformation, no shuffle.

    impl='pandas' (default): Arrow-batched pandas UDF with hashlib.md5 —
    byte-identical to the SQL md5 the DuckDB oracle uses, and ~20× faster
    than the expression path because Spark's higher-order array lambdas
    are interpreted (no codegen), costing ~20µs per element.
    impl='expr': the pure-expression variant (kept as the reference
    semantics; also what a native xxhash64 production variant would
    replace md5 in).
    """
    if impl == "expr":
        sh = word_shingles(tokens(F.col(text_col)), shingle_k)
        sig = F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda s: F.array_min(F.transform(sh, lambda g: seeded_h16(s, g))),
        )
        return df.select(
            F.col(id_col), sig.alias("sig"), F.size(sh).alias("n_shingles")
        ).filter(F.col("n_shingles") > 0)

    schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("sig", ArrayType(StringType()), False),
            StructField("n_shingles", IntegerType(), False),
        ]
    )
    prefixes = [f"{s}:".encode() for s in range(n_hashes)]
    md5 = hashlib.md5

    def signature(doc_id, text):
        grams = [g.encode() for g in word_grams(split_tokens(text), shingle_k)]
        if not grams:
            return []
        sig = [min(md5(p + g).hexdigest()[:16] for g in grams) for p in prefixes]
        return [(doc_id, sig, len(grams))]

    return map_rows(df.select(id_col, text_col), schema, signature)


def _xx_minhash_cols(df: DataFrame, n_hashes: int) -> DataFrame:
    """Native MinHash: one row per (doc, shingle) via explode, then
    ``min(xxhash64(seed, shingle))`` per seed in ONE map-side-combined
    groupBy — every hash evaluates inside whole-stage codegen, and the
    shuffle carries one partially-aggregated row per (doc, partition),
    never the shingles.  This is the 100 TB shape: no Python, no
    interpreted lambdas, shuffle volume O(docs), not O(shingles)."""
    sh = word_shingles(tokens(F.col("text")), 3)
    exploded = df.select(F.col("doc_id"), F.explode(sh).alias("g"))
    aggs = [
        F.min(F.xxhash64(F.lit(s), F.col("g"))).alias(f"h{s}")
        for s in range(n_hashes)
    ]
    return exploded.groupBy("doc_id").agg(
        *aggs, F.count(F.lit(1)).cast("int").alias("n_shingles")
    )


def minhash_signatures_xx(df: DataFrame) -> DataFrame:
    """xxhash64 MinHash signatures over word 3-shingles: (id, sig
    array<long> of 4 seeds, n_shingles)."""
    cols = _xx_minhash_cols(df, 4)
    return cols.select(
        F.col("doc_id"),
        F.array(*[F.col(f"h{s}") for s in range(4)]).alias("sig"),
        "n_shingles",
    )


def lsh_candidate_pairs(df: DataFrame, impl: str = "pandas") -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (id1 < id2, distinct).

    LSH_BANDS × rows = LSH_HASHES; a pair is a candidate iff all `rows`
    signature entries of some band agree (band key = a hash of the band
    slice).  The join key is (band_idx, band_key) — high-entropy, no
    skew; the doc text never crosses the shuffle.

    ``impl='pandas'`` hashes with md5 (oracle-reproducible);
    ``impl='xxhash64'`` is the all-codegen production path: band keys
    are ``xxhash64(band_idx, h_i..h_j)`` computed directly over the
    per-seed min columns — zero Python, zero interpreted lambdas.
    """
    rows = LSH_HASHES // LSH_BANDS
    if impl == "xxhash64":
        cols = _xx_minhash_cols(df, LSH_HASHES)
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("band_idx"),
                    F.xxhash64(
                        F.lit(j), *[F.col(f"h{j * rows + r}") for r in range(rows)]
                    ).alias("band_key"),
                )
                for j in range(LSH_BANDS)
            ]
        )
        banded = (
            cols.select(F.col("doc_id"), F.explode(band_structs).alias("b"))
            .select("doc_id", "b.band_idx", "b.band_key")
            .localCheckpoint(eager=False)
        )
        return _band_self_join(banded)
    sigs = minhash_signatures(df, impl=impl)
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
        lambda j: F.md5(F.concat_ws(",", F.slice(F.col("sig"), j * rows + 1, rows))),
    )
    # Materialize before the self-join: without a barrier the signature
    # UDF would run on BOTH join branches.  localCheckpoint (lazy) keeps
    # one computed copy for the two scans and — unlike cache() — is
    # released when this DataFrame is garbage collected, so repeated
    # invocations in a long session don't accrete storage (the r1 leak).
    # At cluster scale this is the point where signatures get written to
    # a table.
    banded = sigs.select(
        F.col("doc_id"), F.posexplode(band_keys).alias("band_idx", "band_key")
    ).localCheckpoint(eager=False)
    return _band_self_join(banded)


def _band_self_join(banded: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) self-equi-join → distinct id1<id2 pairs."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
        )
        .distinct()
    )


def _shingle_sets(df: DataFrame, shingle_k: int) -> DataFrame:
    """(doc_id, sh) with sh = DISTINCT word k-shingles, via one Arrow batch —
    value-identical to ``array_distinct(word_shingles(tokens(text)))``
    (pure string slicing, no hashing) but ~20× faster than the
    interpreted array-lambda expression on long documents.  Rows with
    no shingles are dropped (the expression path's size>0 filter)."""
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("sh", ArrayType(StringType()), False),
        ]
    )

    def shingle_set(doc_id, text):
        grams = list(dict.fromkeys(word_grams(split_tokens(text), shingle_k)))
        return [(doc_id, grams)] if grams else []

    return map_rows(df.select("doc_id", "text"), schema, shingle_set)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_id: int = 200,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over all pairs with id < max_id
    (the quadratic verifier — cap the id range or feed LSH candidates).

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) over distinct word 2-shingles,
    rounded to 4 dp.
    """
    docs = _shingle_sets(df.filter(F.col("doc_id") < max_id), 2).localCheckpoint(
        eager=False
    )
    a = docs.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    b = docs.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size("sh1").cast("double") + F.size("sh2").cast("double") - inter
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def verified_near_dups(
    df: DataFrame,
    threshold: float = 0.5,
    impl: str = "pandas",
) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH candidate
    generation (:func:`lsh_candidate_pairs`) followed by exact word
    3-gram Jaccard verification of ONLY the candidate pairs.  ``impl``
    selects the signature hash (md5 for
    oracle parity, xxhash64 for the all-codegen production path); the
    verification stage is hash-free exact Jaccard either way, so both
    impls emit the same verified pairs whenever LSH recalls them.

    This is the composition that scales: the quadratic verifier touches
    |candidates| pairs (LSH-bounded) instead of |docs|², and the
    verification join ships shingle sets for CANDIDATE ids only — docs
    is left-semi-joined against the distinct candidate-id set before
    shingling, so at corpus scale the verify stage shuffles |candidates|
    shingle sets, not the whole corpus.
    Returns (id1, id2, jaccard) with jaccard ≥ threshold, 4 dp.
    """
    pairs = lsh_candidate_pairs(df, impl=impl).localCheckpoint(eager=True)
    cand_ids = (
        pairs.select(F.col("id1").alias("doc_id"))
        .union(pairs.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    # shingle ONCE (Arrow UDF) and checkpoint: the a/b join branches
    # would otherwise each recompute the shingling of every candidate
    # doc (measured 4.5 s -> 0.25 s on the sf0.1 verify stage)
    docs = _shingle_sets(df.join(cand_ids, "doc_id", "left_semi"), 3).localCheckpoint(
        eager=False
    )
    a = docs.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    b = docs.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size("sh1").cast("double") + F.size("sh2").cast("double") - inter
    return (
        pairs.join(a, "id1")
        .join(b, "id2")
        .select("id1", "id2", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def with_simhash(df: DataFrame, impl: str = "pandas") -> DataFrame:
    """16-bit SimHash per doc: bit j is the sign of the token-frequency-
    weighted sum of (2·bit_j(md5(token)) − 1).  Narrow, no shuffle.

    impl='pandas' (default): Arrow UDF with hashlib — identical values,
    ~20× the interpreted array-lambda path (see minhash_signatures).
    impl='xxhash64': the production path — explode tokens, per-bit sums
    of ``(bit_j(xxhash64(token))*2 - 1)`` in one map-side-combined
    groupBy, sign-packed JVM-side.  Different signature values than the
    md5 family (different hash), same clustering semantics.
    """
    if impl == "xxhash64":
        exploded = df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("t"))
        xh = F.xxhash64(F.col("t"))
        aggs = [
            F.sum(
                (F.shiftright(xh, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
        sums = exploded.groupBy("doc_id").agg(*aggs)
        packed = None
        for j in range(SIMHASH_BITS):
            term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            packed = term if packed is None else packed + term
        return sums.select(F.col("doc_id"), packed.alias("simhash"))
    if impl == "expr":
        toks = tokens(F.col("text"))
        simhash = F.aggregate(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                F.aggregate(
                    toks, F.lit(0), lambda a, t: a + (md5_bit(t, j) * 2 - 1)
                )
                >= 0,
                F.pow(F.lit(2.0), j - 1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        return (
            df.select(F.col("doc_id"), F.size(toks).alias("n_tokens"), simhash.alias("simhash"))
            .filter(F.col("n_tokens") > 0)
            .drop("n_tokens")
        )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("simhash", LongType(), False),
        ]
    )
    md5 = hashlib.md5

    def simhash(doc_id, text):
        toks = split_tokens(text)
        if not toks:
            return []
        sums = [0] * SIMHASH_BITS
        for t in toks:
            hexd = md5(t.encode()).hexdigest()
            for j in range(SIMHASH_BITS):
                # same pseudo-random bit as exprs.md5_bit:
                # parity of the (j+1)-th hex char's codepoint
                sums[j] += (ord(hexd[j]) % 2) * 2 - 1
        sh = 0
        for j in range(SIMHASH_BITS):
            if sums[j] >= 0:
                sh += 1 << j
        return [(doc_id, sh)]

    return map_rows(df.select("doc_id", "text"), schema, simhash)


def simhash_hamming_pairs(df: DataFrame) -> DataFrame:
    """Near-dup SimHash value pairs within hamming distance 2 via
    PIGEONHOLE banding: two b-bit hashes within distance d must agree
    exactly on at least one of d+1 disjoint bit segments, so candidate
    pairs come from d+1 equi-joins on (segment_idx, segment_bits) over
    the DISTINCT-hash relation — never an all-pairs product.  The join
    input is one row per distinct simhash (≤ 2^SIMHASH_BITS), so this
    stays tiny however large the corpus; exact ``bit_count(xor)``
    verifies.

    Returns (h1, h2, hamming, n_docs1, n_docs2) with h1 < h2.
    """
    groups = simhash_groups(df)
    max_hamming = 2
    nseg = max_hamming + 1
    seg_bits = SIMHASH_BITS // nseg
    segs = []
    for i in range(nseg):
        lo = i * seg_bits
        width = (SIMHASH_BITS - lo) if i == nseg - 1 else seg_bits
        segs.append(
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(F.col("simhash"), lo)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
        )
    banded = (
        groups.select("simhash", "n_docs", F.explode(F.array(*segs)).alias("b"))
        .select("simhash", "n_docs", "b.seg", "b.key")
        .localCheckpoint(eager=False)
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        a.join(b, ["seg", "key"])
        .where(F.col("a.simhash") < F.col("b.simhash"))
        .select(
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
            ham.alias("hamming"),
            F.col("a.n_docs").alias("n_docs1"),
            F.col("b.n_docs").alias("n_docs2"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_groups(df: DataFrame) -> DataFrame:
    """Near-dup clustering proxy: docs bucketed by identical SimHash."""
    return (
        with_simhash(df)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


# ------------------------------------------------------ duplicate spans
def dup_spans(df: DataFrame, k: int = 16) -> DataFrame:
    """Token-window duplicate-span detection — the substring-level
    member of the dedup family (exact doc dedup misses partial mirrors;
    paragraph dedup misses duplication not aligned to paragraph
    boundaries; this catches any repeated k-token run, the signal the
    suffix-array substring-dedup literature trims on).

    Documents are cut into DISJOINT k-token chunks (the stride-k
    approximation of the suffix-array scan: any duplicated run of
    >= 2k-1 tokens is guaranteed to contain a duplicated aligned chunk,
    shorter repeats may be missed — that recall/cost trade is the
    point; stride-1 shingling would multiply the explode by k).  A
    chunk whose exact text occurs >= MIN_COPIES times anywhere in the
    corpus (across or within docs) is flagged.  Output: one row per
    flagged chunk — (id, chunk_idx, start_tok, n_copies) — ready to
    merge into trim spans or aggregate into a per-doc duplication
    fraction.

    Scale: one corpus scan + explode to |tokens|/k rows; the chunk TEXT
    is immediately reduced to a 16-byte fingerprint, so the groupBy and
    the flag-back join both shuffle narrow uniform hashes (no skew, no
    text).  Same plan family as para_dedup; at 100 TB the explode dies
    in-stage and the two shuffles carry ~|corpus_tokens|/k fingerprint
    rows."""
    toks = tokens(F.col("text"))
    n_chunks = F.floor(F.size(toks) / k).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
    )
    chunks = df.select(
        F.col("doc_id"),
        F.posexplode(
            F.when(n_chunks >= 1, chunk_arr).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("chunk_idx", "chunk"),
    ).select(
        F.col("doc_id"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx") * k).cast("int").alias("start_tok"),
        h16(F.col("chunk")).alias("fp"),
    )
    copies = chunks.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        chunks.join(
            copies.filter(F.col("n_copies") >= MIN_COPIES), "fp", "inner"
        )
        .select("doc_id", "chunk_idx", "start_tok", "n_copies")
    )


def strip_dup_spans(
    df: DataFrame,
    k: int = 16,
    keep_first: bool = True,
) -> DataFrame:
    """The ACTION side of :func:`dup_spans`: rebuild each document with
    its corpus-duplicated k-token chunks removed — the substring-level
    analog of ``para_dedup``'s keep-first paragraph removal.

    ``keep_first=True`` keeps one canonical copy of every duplicated
    chunk (the corpus-wide first occurrence by (id, chunk_idx) — dedup
    semantics); ``False`` removes every occurrence (boilerplate-kill
    semantics).  The k-token TAIL of each doc (the remainder shorter
    than k) is never corpus-deduped and is always kept.  Output:
    (id, n_chunks, n_dropped, clean_text) where clean_text is the kept
    chunks + tail re-joined with single spaces.

    Scale: same fingerprint-only shuffles as dup_spans, plus one
    (id, idx)-keyed window to elect first occurrences and a final join
    of kept indices back to the chunk text — the chunk text for the
    REBUILD crosses one shuffle keyed by id (unavoidable: the output IS
    text), everything else stays 16-byte keys."""
    toks = tokens(F.col("text"))
    n_chunks = F.floor(F.size(toks) / k).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
    )
    tail = F.concat_ws(
        " ", F.slice(toks, n_chunks * k + 1, F.size(toks) - n_chunks * k)
    )
    chunks = df.select(
        F.col("doc_id"),
        tail.alias("_tail"),
        F.posexplode_outer(
            F.when(n_chunks >= 1, chunk_arr).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("chunk_idx", "chunk"),
    )
    fp = h16(F.col("chunk"))
    marked = chunks.select(
        F.col("doc_id"), "_tail", "chunk_idx", "chunk", fp.alias("fp")
    )
    counts = (
        marked.filter(F.col("chunk").isNotNull())
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    w = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    flagged = marked.join(
        counts.filter(F.col("n_copies") >= MIN_COPIES), "fp", "left"
    )
    if keep_first:
        rank = F.when(
            F.col("n_copies").isNotNull(), F.row_number().over(w)
        ).otherwise(F.lit(1))
        drop = F.col("n_copies").isNotNull() & (rank > 1)
    else:
        drop = F.col("n_copies").isNotNull()
    kept = flagged.select(
        F.col("doc_id"),
        "_tail",
        "chunk_idx",
        "chunk",
        drop.alias("_drop"),
    )
    kept_parts = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("_drop") & F.col("chunk").isNotNull(),
                    F.struct(F.col("chunk_idx"), F.col("chunk")),
                )
            )
        ),
        lambda s: s["chunk"],
    )
    all_parts = F.concat(kept_parts, F.array(F.first("_tail")))
    return kept.groupBy("doc_id").agg(
        F.count("chunk").alias("n_chunks"),
        F.sum(F.when(F.col("_drop"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.concat_ws(
            " ", F.filter(all_parts, lambda x: x.isNotNull() & (x != ""))
        ).alias("clean_text"),
    )


def cdc_chunks(df: DataFrame) -> DataFrame:
    """Content-defined chunking dedup — the shift-robust member of the
    substring-dedup family.  ``dup_spans`` cuts at FIXED stride-k
    offsets, so inserting one token near a document's head shifts every
    later chunk boundary and the copies stop matching.  Here the
    boundary is a property of the CONTENT: a token whose md5 starts
    with the nibble '0' (p = 1/16 → mean chunk ≈ 16 tokens) CLOSES a
    chunk, so after any local edit the chunking re-synchronizes at the
    next boundary token and the rest of the document fingerprints
    identically — the token-level analogue of gear/Rabin CDC from the
    backup-dedup literature.

    Output: one row per corpus-duplicated chunk occurrence —
    (id, chunk_idx, start_tok, n_tok, n_copies), same contract as
    ``dup_spans``.

    Scale: chunking is PURE array expressions (filter/slice over the
    token array — no |tokens| explode, no per-doc window shuffle); the
    chunk text reduces to a 16-byte fingerprint before both shuffles,
    which carry ~|corpus_tokens|/16 uniform fp rows — the dup_spans
    plan family with the explode replaced by an in-stage transform."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    # 1-based positions of boundary tokens (md5 nibble gate)
    bpos = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.substring(F.md5(F.element_at(toks, i)), 1, 1) == "0",
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda b: b + 1))
    ends = F.concat(bpos, F.array(n))
    spans = F.filter(
        F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))),
        lambda p: p["s"] <= p["e"],
    )
    chunk_arr = F.transform(
        spans,
        lambda p: F.struct(
            p["s"].alias("s"),
            (p["e"] - p["s"] + 1).alias("n_tok"),
            F.concat_ws(
                " ", F.slice(toks, p["s"], p["e"] - p["s"] + 1)
            ).alias("chunk"),
        ),
    )
    chunks = df.select(
        F.col("doc_id"),
        F.posexplode(
            F.when(n >= 1, chunk_arr).otherwise(
                F.array().cast(
                    "array<struct<s:int,n_tok:int,chunk:string>>"
                )
            )
        ).alias("chunk_idx", "c"),
    ).select(
        F.col("doc_id"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.s").cast("int").alias("start_tok"),
        F.col("c.n_tok").cast("int").alias("n_tok"),
        h16(F.col("c.chunk")).alias("fp"),
    )
    copies = chunks.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    return chunks.join(
        copies.filter(F.col("n_copies") >= MIN_COPIES), "fp", "inner"
    ).select("doc_id", "chunk_idx", "start_tok", "n_tok", "n_copies")


def _containment_postings_pandas(df: DataFrame, shingle_k: int) -> DataFrame:
    """Distinct-shingle posting rows ``(doc_id, n_sh, fp)`` in one Arrow
    crossing: tokenize, k-gram, set-dedupe and md5[:16] per shingle in
    Python — byte-identical to ``substr(md5(g), 1, 16)`` over
    ``list_distinct`` grams in the oracle, and ~20× cheaper than the
    interpreted higher-order-lambda expression chain (Spark's array
    lambdas are CodegenFallback; see :func:`minhash_signatures`)."""
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_sh", IntegerType(), False),
            StructField("fp", StringType(), False),
        ]
    )
    md5 = hashlib.md5

    def postings(doc_id, text):
        grams = set(word_grams(split_tokens(text), shingle_k))
        return [(doc_id, len(grams), md5(g.encode()).hexdigest()[:16]) for g in grams]

    return map_rows(df.select("doc_id", "text"), schema, postings)


def containment_pairs(
    df: DataFrame,
    shingle_k: int = 3,
    min_shared: int = 3,
    threshold: float = 0.5,
    impl: str = "pandas",
) -> DataFrame:
    """ASYMMETRIC containment detection — the dedup case MinHash
    misses.  A short doc fully quoted inside a long one has
    containment |A∩B|/|B| ≈ 1 but Jaccard ≈ |B|/|A| ≈ 0, so
    full-doc-signature LSH never surfaces the pair; syndicated
    articles, quoted posts and boilerplate-wrapped copies live exactly
    there.

    Shape: distinct word shingles per doc (pure array expressions —
    no Arrow crossing), explode to a 16-byte-fingerprint inverted
    index that CARRIES each doc's shingle count alongside its id, ONE
    groupBy(fp) that collects each fingerprint's postings list and
    drops stop-shingles by document frequency (df ∉ [2, 100]),
    then pair generation as an in-array combination explode (nested
    higher-order transform, id1 < id2) — no fingerprint self-join and
    no sizes join at all: the denominators ride the postings structs,
    so the text is scanned once and the whole job is exactly two
    shuffles (index → fp, pairs → (id1, id2)).  The df cap bounds the
    combination fan-out to C(100, 2) per postings list — the
    standard precision/recall trade: shingles shared by more than
    100 docs are boilerplate, and dropping them slightly
    UNDER-counts the true intersection (documented; the
    verified-Jaccard path is the symmetric complement).

    Returns (id1, id2, n_shared, c1, c2, containment) where
    ``c1 = n_shared/|sh1|`` (how much of doc1 lies in doc2), ``c2``
    the reverse, ``containment = max`` — kept at ≥ threshold.

    ``impl``: 'pandas' (default) fingerprints with hashlib.md5 in ONE
    Arrow crossing that emits the posting rows directly — byte-equal
    to the SQL md5 the DuckDB oracle uses and ~20× faster than the
    interpreted array-lambda path (same trade as
    :func:`minhash_signatures`); 'expr' is the pure-expression
    reference semantics; 'xxhash64' is the production twin — same
    pair set (any collision-free-in-practice hash induces the same
    postings partition), one cheap JVM hash instead of md5 over every
    shingle.  Parity pinned in pytest.
    """
    # |sh| per doc rides every posting row (shingles are distinct, so
    # the shingle-set size IS the doc's index row count) — the
    # denominator needs no second scan, no sizes aggregate, no join back
    if impl == "pandas":
        post = _containment_postings_pandas(df, shingle_k)
    else:
        toks = tokens(F.col("text"))
        sh = F.array_distinct(word_shingles(toks, shingle_k))
        docs = df.select(F.col("doc_id"), sh.alias("sh")).filter(
            F.size("sh") > 0
        )
        fp = (
            F.xxhash64(F.col("g"))
            if impl == "xxhash64"
            else h16(F.col("g"))
        )
        post = docs.select(
            F.col("doc_id"),
            F.size("sh").alias("n_sh"),
            F.explode("sh").alias("g"),
        ).select(F.col("doc_id"), F.col("n_sh"), fp.alias("fp"))
    postings = (
        post.groupBy("fp")
        .agg(
            F.collect_list(F.struct(F.col("doc_id"), F.col("n_sh"))).alias(
                "ids"
            )
        )
        .filter((F.size("ids") >= 2) & (F.size("ids") <= 100))
    )
    # ordered pairs from each postings list, in codegen: for every id x,
    # pair it with every LARGER id in the same list, denominators attached
    comb = F.flatten(
        F.transform(
            "ids",
            lambda x: F.transform(
                F.filter("ids", lambda y: y["doc_id"] > x["doc_id"]),
                lambda y: F.struct(
                    x["doc_id"].alias("id1"),
                    x["n_sh"].alias("n1"),
                    y["doc_id"].alias("id2"),
                    y["n_sh"].alias("n2"),
                ),
            ),
        )
    )
    # n1/n2 are functionally dependent on id1/id2 — grouping on all four
    # keeps one aggregate, same shuffle width as (id1, id2) + 8 bytes
    shared = (
        postings.select(F.explode(comb).alias("pr"))
        .select("pr.id1", "pr.id2", "pr.n1", "pr.n2")
        .groupBy("id1", "id2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    c1 = F.round(
        F.col("n_shared").cast("double") / F.col("n1").cast("double"), 4
    )
    c2 = F.round(
        F.col("n_shared").cast("double") / F.col("n2").cast("double"), 4
    )
    return (
        shared.select(
            "id1", "id2", "n_shared",
            c1.alias("c1"), c2.alias("c2"),
            F.greatest(c1, c2).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def host_mirror_pairs(pages: DataFrame) -> DataFrame:
    """Mirror-host detection: pairs of hosts serving the same content.

    Web-scale crawls burn fetch budget on mirrors (www/non-www splits,
    country mirrors, CDN vanity hosts, scraped re-publishers).  The
    reference crawls one seed list and never sees the problem; at the
    north rule's 10^10-URL scale, detecting that two hosts are mostly
    the same content — and collapsing one out of the frontier — is a
    first-order budget lever (cf. DUST's per-URL view in crawl/dust.py;
    this is the host-level complement driven by CONTENT, not URL text).

    Input is one row per page with a content fingerprint (md5/simhash —
    anything collision-free in practice); text never enters the plan.
    Shape (same scale pattern as :func:`containment_pairs`): distinct
    (host, fp), ONE groupBy(fp) collecting each fingerprint's host
    list, a document-frequency cap that drops boilerplate fingerprints
    shared by more than 6 hosts (empty pages, parked
    templates — quadratic fan-out with no mirror signal), pair
    generation as an in-array combination explode (host_a < host_b),
    then one narrow groupBy on the pair key.  Per-host distinct-fp
    denominators are a tiny (n_hosts-row) aggregate broadcast back in.

    Returns ``(host_a, host_b, n_shared, n_a, n_b, containment,
    jaccard)`` where containment = n_shared / min(n_a, n_b) — a near-1
    containment with small jaccard is a subset mirror (one host carries
    extra content); both near 1 is a full mirror.
    """
    hf = pages.select(F.col("host"), F.col("fp")).distinct()
    per_host = hf.groupBy("host").agg(F.count(F.lit(1)).alias("n_fps"))
    postings = (
        hf.groupBy("fp")
        .agg(F.collect_list("host").alias("hosts"))
        .filter((F.size("hosts") >= 2) & (F.size("hosts") <= 6))
    )
    comb = F.flatten(
        F.transform(
            "hosts",
            lambda x: F.transform(
                F.filter("hosts", lambda y: y > x),
                lambda y: F.struct(x.alias("host_a"), y.alias("host_b")),
            ),
        )
    )
    shared = (
        postings.select(F.explode(comb).alias("pr"))
        .select("pr.host_a", "pr.host_b")
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    a = per_host.select(
        F.col("host").alias("host_a"), F.col("n_fps").alias("n_a")
    )
    b = per_host.select(
        F.col("host").alias("host_b"), F.col("n_fps").alias("n_b")
    )
    out = shared.join(F.broadcast(a), "host_a").join(F.broadcast(b), "host_b")
    ns = F.col("n_shared").cast("double")
    return out.select(
        "host_a",
        "host_b",
        "n_shared",
        "n_a",
        "n_b",
        F.round(ns / F.least("n_a", "n_b"), 6).alias("containment"),
        F.round(ns / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 6).alias(
            "jaccard"
        ),
    )


def minhash_error_audit(df: DataFrame) -> DataFrame:
    """Sketch-quality audit: per LSH candidate pair, the MinHash
    similarity ESTIMATE (matching positions of the 16 signature hashes
    / 16) against the EXACT shingle Jaccard, plus the absolute error.

    The (hashes, bands) configuration (16, 8 here) is a budget decision
    — this table is the evidence for it on YOUR corpus: E[abs_err]
    tracks 1/sqrt(hashes) (~0.25 at 16 hashes), so a dedup threshold at
    0.5 needs either more hashes or the exact-verify stage
    (:func:`verified_near_dups`) this engine defaults to.  Auditing
    ONLY candidate pairs keeps the cost LSH-bounded — the estimator's
    error on non-candidates is invisible to the pipeline by
    construction (they never reach a threshold decision).

    Scale shape: signatures and shingle sets compute once over the
    semi-joined candidate ids; the pair join ships (id, 16×16-hex
    array) and (id, shingle set) for candidates only.  Returns
    ``(id1, id2, est_jaccard, jaccard, abs_err)`` rounded to 4 dp.
    """
    pairs = lsh_candidate_pairs(df).localCheckpoint(eager=True)
    cand_ids = (
        pairs.select(F.col("id1").alias("doc_id"))
        .union(pairs.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    sub = df.join(cand_ids, "doc_id", "left_semi")
    sigs = minhash_signatures(sub).localCheckpoint(eager=False)
    sh = _shingle_sets(sub, 3).localCheckpoint(
        eager=False
    )
    s1 = sigs.select(F.col("doc_id").alias("id1"), F.col("sig").alias("sg1"))
    s2 = sigs.select(F.col("doc_id").alias("id2"), F.col("sig").alias("sg2"))
    a = sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    matches = F.size(
        F.filter(F.zip_with("sg1", "sg2", lambda x, y: x == y), lambda m: m)
    )
    est = matches / F.lit(16.0)  # minhash_signatures' n_hashes
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size("sh1").cast("double") + F.size("sh2").cast("double") - inter
    jac = inter / union
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .join(a, "id1")
        .join(b, "id2")
        .select(
            "id1",
            "id2",
            F.round(est, 4).alias("est_jaccard"),
            F.round(jac, 4).alias("jaccard"),
            F.round(F.abs(est - jac), 4).alias("abs_err"),
        )
    )


def syndication_bursts(pages: DataFrame) -> DataFrame:
    """Content syndicated across many hosts — press releases, wire
    copy, scraped re-publications: one content fingerprint served by
    ≥ 3 distinct hosts.  :func:`host_mirror_pairs` asks
    "which host PAIRS share content"; this asks "which CONTENT
    spreads", which is the admission question (keep one canonical
    copy, down-weight the rest — syndicated text otherwise enters the
    training mix once per subscriber host).

    ONE map-side-combined groupBy(fp) over distinct (fp, host) rows;
    the host sample is sorted-then-sliced so the output is
    deterministic and bounded regardless of burst width.

    Returns ``(fp, n_hosts, n_docs, sample_hosts)`` for bursts only.
    """
    rows = pages.select(F.col("fp"), F.col("host"))
    return (
        rows.groupBy("fp")
        .agg(
            F.countDistinct("host").alias("n_hosts"),
            F.count(F.lit(1)).alias("n_docs"),
            F.slice(F.array_sort(F.collect_set("host")), 1, 5).alias(
                "sample_hosts"
            ),
        )
        .filter(F.col("n_hosts") >= 3)
    )
