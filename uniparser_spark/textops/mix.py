"""Corpus assembly — the step between a cleaned corpus and a training run.

After cleaning and deduplication, a webtext pipeline still has to
(a) prove the training set does not contain the eval benchmarks
(n-gram decontamination, GPT-2/3 style), (b) mix sources to a target
recipe with *reproducible* sampling (a `df.sample()` re-draws under
task retries; a hash-gate does not), (c) pack variable-length documents
into fixed-length training sequences, and (d) score documents against a
corpus-level language model for quality-weighted selection (CCNet
style).  These operators implement that layer Spark-first.

Cross-engine determinism (the driver's DuckDB oracle hash-compares
values): every operator stays in integer / decimal arithmetic until one
final double division — no floating-point accumulation whose order
could differ between engines, no transcendental functions (the unigram
scorer emits mean token *probability* mass rather than log-probability:
same ordering signal, exactly computable; log-space scoring is a
monotone transform a production pipeline can apply downstream).  The
one exception is :func:`dsir_weights`, whose importance LOG-ratio is
inherently transcendental — there the ln() is contained to one call
per bucket on an identical exactly-rounded double and quantized to
integer micro-nats before any per-doc accumulation (rationale on the
function).

Scale notes per operator are on the functions; the common theme is
that document text crosses the wire zero times — every shuffle carries
narrow (id, count) rows, eval-set n-grams and vocabularies broadcast.

Reference scope note: the reference (uniparser) stops at per-page rule
extraction; this module is part of the training-data layer the north
rule adds on top.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, Window, functions as F

from .exprs import tokens, word_shingles

DSIR_DIM = 4096  # hashed feature buckets of dsir_weights
DECON_N = 4  # word n-gram order of eval_ngrams and decontaminate


# ------------------------------------------------------------ hash buckets
def hex_bucket(col: Column, salt: str, nibbles: int = 2) -> Column:
    """Deterministic uniform bucket in [0, 16**nibbles) from the leading
    hex nibbles of md5('<salt>:<value>').  Engine-portable: DuckDB
    reproduces it with ascii()/strpos() on the same digest — unlike
    Spark's xxhash64 (no DuckDB twin) or rand() (not stable under task
    retry, which is the whole point of hash-gated sampling)."""
    h = F.md5(F.concat(F.lit(salt), F.lit(":"), col.cast("string")))

    def _hexval(i: int) -> Column:
        a = F.ascii(F.substring(h, i, 1))
        # '0'-'9' -> 0-9, 'a'-'f' -> 10-15
        return a - 48 - F.when(a >= 97, 39).otherwise(0)

    out = F.lit(0)
    for i in range(1, nibbles + 1):
        out = out * 16 + _hexval(i)
    return out


# -------------------------------------------------------- decontamination
def eval_ngrams(eval_df: DataFrame) -> DataFrame:
    """Distinct word DECON_N-grams of an eval/benchmark set — one ``gram``
    column.  Benchmarks are tiny next to a crawl corpus (MBs vs TBs),
    so the output is built to be broadcast."""
    toks = tokens(F.col("text"))
    return (
        eval_df.select(
            F.explode(F.array_distinct(word_shingles(toks, DECON_N))).alias("gram")
        )
        .distinct()
    )


def decontaminate(docs: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """Benchmark decontamination via word DECON_N-gram overlap (the
    GPT-3 appendix-C procedure): per document, how many of its distinct
    n-grams appear in the eval set.

    Output: (id, n_grams, n_hit, contamination 4-dp, contaminated 0/1).
    Documents with fewer than DECON_N tokens have no n-grams and drop out
    (nothing to test).  Callers quarantine rows with ``contaminated=1``
    (or threshold on ``contamination``) before training.

    Scale: eval grams broadcast (never shuffled); the corpus scan
    explodes distinct grams and the groupBy(id) is map-side combined,
    so the one shuffle carries (id, partial-count) rows — document text
    itself never leaves the scan stage.  At 100 TB the explode fan-out
    is ~|tokens| rows per doc but they die in-stage at the join."""
    toks = tokens(F.col("text"))
    grams = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(word_shingles(toks, DECON_N))).alias("gram"),
    )
    hits = grams.join(
        F.broadcast(eval_grams.select("gram", F.lit(1).alias("_hit"))),
        "gram",
        "left",
    )
    per = hits.groupBy("doc_id").agg(
        F.count("gram").alias("n_grams"),
        F.count("_hit").alias("n_hit"),
    )
    return per.select(
        F.col("doc_id"),
        "n_grams",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double") / F.col("n_grams").cast("double"), 4
        ).alias("contamination"),
        (F.col("n_hit") > 0).cast("int").alias("contaminated"),
    )


# ---------------------------------------------------- reproducible sampling
def sample_gate(rates: Mapping[str, int], default_rate: int = 0) -> Column:
    """The sampling predicate alone, as a reusable boolean Column —
    bucket(id) < rate(stratum).  Because it depends only on the row
    itself, it COMMUTES with every other filter/join in a pipeline:
    apply it as early as the plan allows (it prunes before expensive
    stages) without changing the final kept set."""
    bucket = hex_bucket(F.col("doc_id"), "sample")
    rate: Column = F.lit(default_rate)
    for k in sorted(rates, reverse=True):
        rate = F.when(F.col("lang") == k, F.lit(rates[k])).otherwise(rate)
    return bucket < rate


def stratified_sample(
    df: DataFrame,
    rates: Mapping[str, int],
    default_rate: int = 0,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its hash bucket
    (uniform in [0, 256)) is below its stratum's rate numerator —
    e.g. ``{"en": 96}`` keeps 96/256 of English docs.

    Why not ``df.sample()``: Spark's sampler is seeded per-partition,
    so the kept set changes under repartitioning and task retries — a
    training-mix recipe must be re-runnable to the row.  A hash gate on
    a stable id is a pure narrow filter: same rows from any engine, any
    partitioning, any retry, and the parquet scan prunes nothing less
    (the filter composes with pushdown on the stratum column).

    Scale: zero shuffles — this is a filter.  Output keeps the bucket
    and rate columns for audit (lineage: WHY did this row survive)."""
    bucket = hex_bucket(F.col("doc_id"), "sample")
    rate: Column = F.lit(default_rate)
    for k in sorted(rates, reverse=True):
        rate = F.when(F.col("lang") == k, F.lit(rates[k])).otherwise(rate)
    return (
        df.select(
            F.col("doc_id"),
            F.col("lang").alias("stratum"),
            bucket.cast("int").alias("bucket"),
            rate.cast("int").alias("rate"),
        )
        .filter(F.col("bucket") < F.col("rate"))
    )


# -------------------------------------------------------- sequence packing
def pack_sequences(
    docs: DataFrame,
    seq_len: int = 128,
    n_buckets: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT pretraining layout):
    documents are concatenated in a deterministic order and the token
    stream is cut every ``seq_len`` tokens; a document may span
    sequences.  Emits each document's placement in the stream:
    (id, bucket, n_tokens, tok_offset, seq_first, seq_last).

    The stream is sharded into ``n_buckets`` independent sub-streams
    (here ``id % n_buckets``; a production run uses a hash of the id)
    because a single global concatenation order is a one-partition
    sort.  Within a bucket the placement is a running sum — one
    window over (bucket, id), so the sort is per-bucket and the
    shuffle carries (id, n_tokens) only.  At 100 TB, n_buckets scales
    with the cluster and each bucket's window sorts |corpus|/n_buckets
    narrow rows; text itself is tokenized in the scan stage and never
    shuffled (the trainer re-reads text by id, range-partitioned on
    (bucket, seq_first), to materialize the actual sequences)."""
    n_tok = F.size(tokens(F.col("text")))
    d = docs.select(
        F.col("doc_id"),
        (F.col("doc_id") % n_buckets).cast("int").alias("bucket"),
        n_tok.cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.select(
        F.col("doc_id"),
        "bucket",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .cast("long")
        .alias("tok_offset"),
    )
    return d.select(
        F.col("doc_id"),
        "bucket",
        "n_tokens",
        "tok_offset",
        F.expr(f"CAST(tok_offset DIV {seq_len} AS BIGINT)").alias("seq_first"),
        F.expr(
            f"CAST((tok_offset + n_tokens - 1) DIV {seq_len} AS BIGINT)"
        ).alias("seq_last"),
    )


def chunk_text(docs: DataFrame, max_tokens: int = 64, overlap: int = 16) -> DataFrame:
    """Sliding-window chunking — the long-document layout for context-
    bounded consumers (RAG indexing, embedding models, fixed-window
    pretraining): each document is cut into windows of ``max_tokens``
    whitespace tokens with ``overlap`` tokens carried between
    neighbors (stride = max_tokens - overlap), so no sentence straddles
    a hard cut unseen.  Emits (id, chunk_idx, n_tokens, chunk_text);
    chunk_text is rebuilt space-joined from the token array.

    Window starts are ``0, stride, 2·stride, …`` while more than
    ``overlap`` tokens remain — the final window always reaches the
    last token, never degenerates to pure overlap, and a short doc
    yields exactly one window.  Blank documents yield zero rows.

    Everything is one codegen projection + posexplode: tokenization,
    the start sequence, and the per-window slice happen per-row with
    NO shuffle at all — the operator is embarrassingly parallel, and
    at 100 TB its cost is the scan plus the (bounded, overlap/stride)
    output inflation.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    toks = tokens(F.col("text"))
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride)
    )
    base = docs.filter(F.trim(F.col("text")) != "").select(
        F.col("doc_id"), toks.alias("_t"), n.alias("_n"), starts.alias("_s")
    )
    return base.select(
        F.col("doc_id"),
        F.explode("_s").alias("_start"),
        F.col("_t"),
        F.col("_n"),
    ).select(
        F.col("doc_id"),
        (F.col("_start") / stride).cast("int").alias("chunk_idx"),
        F.least(F.lit(max_tokens), F.col("_n") - F.col("_start"))
        .cast("int")
        .alias("n_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("_t"), F.col("_start") + 1, max_tokens)
        ).alias("chunk_text"),
    )


def host_quota_sample(docs: DataFrame, cap: int, salt_buckets: int = 16) -> DataFrame:
    """Per-host document quota — corpus diversity control: no host
    contributes more than ``cap`` documents, best-first (``quality``
    desc, id asc as the deterministic tiebreak).  Every row is kept
    with a verdict: (id, host, quality, rk, kept).

    Skew is the scale hazard (a Zipf-head host holds millions of docs,
    and a plain per-host window sorts them in ONE partition), so the
    ranking is two-phase, same trick as the politeness scheduler
    (frontier/politeness.py): a salted pre-trim keeps ``cap`` rows per
    (host, id%salt_buckets) group, then the exact per-host rank runs
    over at most salt_buckets × cap survivors per host.  Correctness
    is unchanged — a pre-trim victim ranks below ``cap`` rows of its
    own salt group, hence below ≥cap rows of its host; it could never
    be kept.  Rows dropped by the pre-trim are re-attached with
    kept = 0 (rk is NULL for them: their exact rank was never
    computed, and the verdict does not need it).
    """
    q = F.col("n_tokens")
    order = [q.desc(), F.col("doc_id").asc()]
    pre = Window.partitionBy(
        "host", (F.col("doc_id") % salt_buckets).cast("int")
    ).orderBy(*order)
    exact = Window.partitionBy("host").orderBy(*order)
    survivors = (
        docs.select("doc_id", "host", "n_tokens")
        .withColumn("_pre", F.row_number().over(pre))
        .filter(F.col("_pre") <= cap)
        .drop("_pre")
        .withColumn("rk", F.row_number().over(exact))
    )
    ranked = survivors.select(
        "doc_id", "host", "n_tokens", "rk",
        (F.col("rk") <= cap).cast("int").alias("kept"),
    )
    trimmed = (
        docs.select("doc_id", "host", "n_tokens")
        .join(survivors.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id", "host", "n_tokens",
            F.lit(None).cast("int").alias("rk"),
            F.lit(0).alias("kept"),
        )
    )
    return ranked.unionByName(trimmed)


# ------------------------------------------------------- unigram LM scores
def unigram_scores(docs: DataFrame, vocab_size: int = 16) -> DataFrame:
    """Corpus-LM document scoring (the CCNet device, unigram order):
    build a top-``vocab_size`` unigram vocabulary over the corpus, then
    score each document by how much of the corpus's probability mass
    its tokens carry.  Output per doc: (id, n_tokens, n_oov, oov_frac
    4-dp, avg_tok_prob 10-dp) where avg_tok_prob = mean over the doc's
    tokens of p(token) = corpus_count/corpus_total (OOV contributes 0).

    Emitting probability mass instead of log-probability keeps the
    whole computation in exact integer arithmetic until ONE final
    double division (sum-of-counts / (n_tokens*total)) — the ranking it
    induces is the same monotone signal, and it is reproducible
    bit-for-bit across engines, partitionings and retries, which
    ln()-accumulation in floats is not.

    Scale: two map-side-combined shuffles — (token, count) to build the
    vocabulary and (id, partials) to score — plus a broadcast of the
    top-V vocabulary and a 1-row total.  The vocabulary cut
    (orderBy.limit) moves |distinct tokens| aggregated rows, not token
    instances; at web scale that is the zipf head after combine, and V
    caps the broadcast."""
    toks = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = counts.orderBy(F.col("cnt").desc(), F.col("tok")).limit(vocab_size)
    total = counts.agg(F.sum("cnt").cast("long").alias("total"))
    per = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("mass"),
            F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per.crossJoin(F.broadcast(total)).select(
        F.col("doc_id"),
        "n_tokens",
        "n_oov",
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 4
        ).alias("oov_frac"),
        F.round(
            F.col("mass").cast("double")
            / (F.col("n_tokens") * F.col("total")).cast("double"),
            10,
        ).alias("avg_tok_prob"),
    )


# --------------------------------------------------------- tokenizer prep
def bpe_merge_pairs(docs: DataFrame, top_k: int = 50) -> DataFrame:
    """One BPE merge iteration at corpus scale: count every ADJACENT
    token pair and rank the merge candidates — the inner loop of
    training a BPE/WordPiece tokenizer on the corpus the pipeline just
    assembled.  Output: ``(pair, cnt, rank)`` for the top ``top_k``
    pairs, rank 1 = the pair the first merge would fuse; ties break
    lexicographically so the ranking is deterministic across engines
    and partitionings.

    Scale shape: pairs are built per-doc by zipping the token array
    with its own tail (narrow, no shuffle), exploded, and counted by
    ONE map-side-combined groupBy — the shuffle carries (pair, partial
    count), i.e. the distinct-pair zipf head after combine, never token
    instances.  The top-k cut sorts only the aggregated pair counts.
    Iterating merges re-runs this with a re-tokenized corpus; each
    iteration is one job of the same shape.
    """
    toks = tokens(F.col("text"))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    exploded = docs.select(F.explode(pairs).alias("pair"))
    counts = exploded.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("pair", "cnt", "rank")
    )


def ngram_lm_counts(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Kneser-Ney count tables for a corpus bigram LM: per bigram
    ``(w1, w2)`` the raw count plus both CONTINUATION type counts —
    ``n_left_types(w2)`` = how many distinct words precede w2 (the KN
    lower-order numerator) and ``n_right_types(w1)`` = how many
    distinct words follow w1 (the KN discount normalizer).  These
    three tables are exactly what smoothed n-gram scoring (the CCNet
    quality filter's KenLM) is built from; :func:`unigram_scores` is
    the order-1 sibling.

    Output: top ``top_k`` bigrams by count (ties broken
    lexicographically): ``(w1, w2, cnt, n_left_types, n_right_types,
    rank)``.

    Scale shape: bigrams are built per-doc by tail-zip (narrow),
    counted by ONE map-side-combined groupBy; both continuation
    counts are windows over the AGGREGATED pair relation — the zipf
    head, never token instances — partitioned by w2 / w1 (each a
    narrow Exchange of (w1, w2, cnt) triples).  Distinctness is free:
    the pair relation is already one row per (w1, w2).
    """
    toks = tokens(F.col("text"))
    n = F.size(toks)
    grams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        docs.select(F.explode(grams).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    left = Window.partitionBy("w2")
    right = Window.partitionBy("w1")
    rank_w = Window.orderBy(F.col("cnt").desc(), F.col("w1"), F.col("w2"))
    return (
        pairs.withColumn(
            "n_left_types", F.count(F.lit(1)).over(left).cast("long")
        )
        .withColumn(
            "n_right_types", F.count(F.lit(1)).over(right).cast("long")
        )
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= top_k)
        .select("w1", "w2", "cnt", "n_left_types", "n_right_types", "rank")
    )


def quality_buckets(docs: DataFrame, vocab_size: int = 16) -> DataFrame:
    """CCNet's head/middle/tail device: bucket documents by corpus-LM
    score WITHIN each language at the terciles — 'head' is the
    best-scoring third, 'tail' the worst.  Per-language bucketing is
    the point (absolute scores are incomparable across languages);
    downstream mixing keeps all of head, samples middle, drops or
    heavily subsamples tail (compose with ``sample_gate`` for the
    reproducible hash-gated rates).

    Output: (id, lang, avg_tok_prob, bucket).

    Scale shape: scoring is :func:`unigram_scores` (two combined
    shuffles + vocabulary broadcast); the tercile thresholds are ONE
    tiny per-language aggregate (exact interpolated percentile —
    bit-identical to DuckDB quantile_cont, the device
    length_distribution already pins) broadcast back over the scored
    relation.  Nothing wide shuffles twice.
    """
    scores = unigram_scores(docs, vocab_size=vocab_size)
    scored = scores.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "avg_tok_prob"
    )
    thr = scored.groupBy("lang").agg(
        F.percentile("avg_tok_prob", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("avg_tok_prob", F.lit(2.0 / 3)).alias("t2"),
    )
    s = F.col("avg_tok_prob")
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "avg_tok_prob",
        F.when(s <= F.col("t1"), F.lit("tail"))
        .when(s <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("bucket"),
    )


def temperature_mix(docs: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Temperature-based multilingual sampling rates (the XLM-R /
    mBERT device): given per-stratum token mass p_s, sample with
    q_s ∝ p_s^α — α < 1 flattens the distribution so head languages
    stop drowning the tail without inverting the order.  Emits the
    mixing recipe :func:`epoch_mix` and :func:`sample_gate` execute:
    per stratum ``(stratum, n_docs, n_tokens, p, q, multiplier)``
    where multiplier = q/p is the repetition factor that realizes q
    at unchanged total size (>1 = upsample, <1 = downsample).

    4-dp rounding on the emitted ratios (the corpus-stats contract);
    the power is the one deliberate float op — p^α has no exact
    integer form — computed identically in both engines from the same
    exact integer token counts, so the oracle still value-pairs.

    Scale shape: one map-side-combined groupBy(stratum) over token
    counts taken in the scan projection; the normalization constants
    fold in a 1-row cross join.  Output is O(strata) rows.
    """
    n_tokens = F.size(tokens(F.col("text")))
    per = (
        docs.select(F.col("lang").alias("stratum"), n_tokens.alias("n"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("total"))
    p = F.col("n_tokens").cast("double") / F.col("total").cast("double")
    powed = per.crossJoin(F.broadcast(tot)).select(
        "stratum", "n_docs", "n_tokens", p.alias("p"),
        F.pow(p, F.lit(float(alpha))).alias("pa"),
    )
    # z as a SORTED sequential fold, not SUM: float accumulation order
    # must be engine- and partitioning-independent (the module's
    # determinism discipline) — strata are few, the fold is one row
    z = powed.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("stratum"), F.col("pa")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["pa"],
        ).alias("z")
    )
    q = F.col("pa") / F.col("z")
    return powed.crossJoin(F.broadcast(z)).select(
        "stratum",
        "n_docs",
        "n_tokens",
        F.round("p", 4).alias("p"),
        F.round(q, 4).alias("q"),
        F.round(q / F.col("p"), 4).alias("multiplier"),
    )


def corpus_mix_report(docs: DataFrame, vocab_size: int = 16) -> DataFrame:
    """The 'what did we build' table: corpus composition per
    (language, quality bucket) — docs, tokens, and each cell's share
    of total tokens.  This is the report a training run's data card
    ships and the input a mixing decision (temperature_mix /
    epoch_mix weights) is made against.

    Composes :func:`quality_buckets`; the rollup is one
    map-side-combined groupBy over O(docs) narrow (lang, bucket,
    n_tokens) rows plus a broadcast 1-row total.  Token counts rejoin
    from the scan projection by id — narrow columns only.
    """
    buckets = quality_buckets(docs, vocab_size=vocab_size).select("doc_id", "lang", "bucket")
    toks = docs.select(
        F.col("doc_id"), F.size(tokens(F.col("text"))).alias("n")
    )
    per = (
        buckets.join(toks, "doc_id")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
    )
    total = per.agg(F.sum("n_tokens").cast("long").alias("total"))
    return per.crossJoin(F.broadcast(total)).select(
        "lang",
        "bucket",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("total").cast("double"),
            4,
        ).alias("frac_tokens"),
    )


# ------------------------------------------------------------- epoch mixing
def host_language_profile(docs: DataFrame) -> DataFrame:
    """Per-host language composition — the crawl-steering signal that
    decides which hosts feed which language buckets (CCNet keeps
    per-snapshot language stats at exactly this granularity).

    ``(host, n_docs, n_langs, majority_lang, majority_share,
    lang_entropy)``: majority = most-document language (ties broken by
    lang ascending — total order, engine-independent), share and
    natural-log entropy rounded to 4 dp (the suite's float contract).

    Scale shape: one map-side-combinable (host, lang) count, one host
    rollup — two narrow shuffles, no text columns.  A host serving one
    language has entropy 0; mixed CDN/aggregator hosts rank high and
    get language-ID'd per page instead of per host."""
    hl = docs.groupBy(
        F.col("host"), F.col("lang")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = hl.groupBy("host").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        # max_by with a (count desc, lang asc) total order: encode as
        # struct(n, negated-lexicographic is unavailable) -> use min_by
        # over (-n, lang)
        F.min_by("lang", F.struct((-F.col("n")).alias("a"), F.col("lang"))).alias(
            "majority_lang"
        ),
        F.max("n").alias("_maxn"),
        F.sum(F.col("n") * F.log("n")).alias("_nlogn"),
    )
    p = F.col("_maxn") / F.col("n_docs")
    # H = ln(N) - (1/N) * sum(n_i ln n_i): one pass, no per-row p columns
    ent = F.log(F.col("n_docs")) - F.col("_nlogn") / F.col("n_docs")
    return tot.select(
        "host",
        "n_docs",
        "n_langs",
        "majority_lang",
        F.round(p, 4).alias("majority_share"),
        F.round(ent, 4).alias("lang_entropy"),
    )


def epoch_mix(df: DataFrame, weights: Mapping[str, int]) -> DataFrame:
    """Training-mix UPSAMPLING — the counterpart of
    :func:`stratified_sample`'s downsampling: given integer mix weights
    per stratum (e.g. ``{"en": 2, "code": 5}``), emit how many epochs
    of each document the training stream should contain so the corpus
    lands on the target proportions at unchanged total size.

    Per stratum s with n_s docs of N total and weight w_s of W total,
    the target is N*w_s/W docs, i.e. a repetition factor f_s =
    N*w_s/(W*n_s).  Each doc gets floor(f_s) copies plus one more with
    probability frac(f_s), decided by the same md5 hash gate as
    stratified_sample — a per-doc Bernoulli, so the realized stratum
    total lands within O(sqrt(n_s)) of target (exact when f_s is an
    integer; the 1/256 quantization of frac adds at most n_s/256
    bias), and the whole assignment is deterministic and reproducible
    under retries.  The computation is integer arithmetic end-to-end
    (the fractional part is compared in 1/256 units): no float ever
    enters, so the DuckDB oracle reproduces every count exactly.

    Output: (id, stratum, n_copies) with n_copies >= 0 (an unlisted or
    zero-weight stratum gets n_copies = 0 — upsampling and exclusion in
    one recipe; filter n_copies > 0 to materialize).  The trainer
    materializes copies downstream (e.g. sequence-pack the id stream
    with each id repeated n_copies times).

    Scale: one map-side-combined groupBy(stratum) for the counts
    (|strata| rows), broadcast back, then a pure per-row expression —
    the corpus never shuffles."""
    W = sum(weights.values())
    counts = df.groupBy(F.col("lang").alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("_ns")
    )
    totals = counts.agg(F.sum("_ns").cast("long").alias("_n"))
    out = (
        df.select(F.col("doc_id"), F.col("lang").alias("stratum"))
        .join(F.broadcast(counts), F.col("stratum") == F.col("_s"))
        .crossJoin(F.broadcast(totals))
    )
    wj: Column = F.lit(0).cast("long")
    for k in sorted(weights, reverse=True):
        wj = F.when(F.col("stratum") == k, F.lit(weights[k])).otherwise(wj)
    # integer floor and fractional part in 1/256 units (the hex bucket's
    # range):
    #   f_s = N*w_s/(W*n_s); base = floor(f_s);
    #   frac_d = floor(f_s*256) - base*256
    staged = out.select(
        F.col("doc_id"),
        "stratum",
        (F.col("_n") * wj).cast("long").alias("_num"),
        (F.lit(W) * F.col("_ns")).cast("long").alias("_den"),
    )
    base = F.expr("CAST(_num DIV _den AS BIGINT)")
    fracd = F.expr("CAST((_num * 256) DIV _den AS BIGINT)") - base * 256
    bucket = hex_bucket(F.col("doc_id"), "epoch")
    n_copies = (base + F.when(bucket < fracd, 1).otherwise(0)).cast("long")
    return staged.select(
        F.col("doc_id"),
        "stratum",
        n_copies.alias("n_copies"),
    )


def dsir_weights(docs: DataFrame, target: Column) -> DataFrame:
    """DSIR hashed importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed n-gram features are
    under the TARGET domain's feature distribution than under the raw
    corpus's — log p_target(doc)/p_raw(doc) under bag-of-hashed-ngrams
    models — so downstream selection can resample raw data toward the
    target domain.  ``target`` is a boolean Column marking the in-domain
    exemplar docs (in production: the curated corpus the training mix
    should imitate; callers plug any predicate or a join-derived flag).

    Features are unigrams + word bigrams hashed into ``DSIR_DIM`` buckets
    (same md5 bucketing as the hashed linear classifier).  Both bucket
    distributions get add-1 smoothing.  Per-bucket weight
    w_b = ln( ((t_b+1)*(R+DSIR_DIM)) / ((r_b+1)*(T+DSIR_DIM)) ), where t/r are
    target/raw bucket counts and T/R the totals.

    Cross-engine determinism: this module's doctrine is integer
    arithmetic until one final division, but an importance LOG-ratio is
    inherently transcendental.  The design contains the hazard to one
    ln() per BUCKET (<= DSIR_DIM calls on exact integer ratios — the two
    products stay below 2^53 up to ~10^7 features a side, and the one
    division is IEEE-exact-rounded, so both engines hand ln the
    IDENTICAL double), quantized immediately to integer micro-nats
    (round(w*1e6)); per-DOC accumulation is then an order-independent
    BIGINT sum, never a float sum.  The only cross-engine risk left is
    a 1-ulp ln() disagreement landing exactly on a .5 quantization
    boundary — strictly narrower exposure than the float-SUM-then-round
    the lang-entropy rows already use.

    Scale: text is tokenized and exploded in the scan stage (crosses
    the wire zero times); bucket counting is one map-side-combined
    groupBy on <= DSIR_DIM keys; the DSIR_DIM-row weight table broadcasts back;
    scoring shuffles only (id, long) partials.  The explode feeds both
    the count and score aggregates from one projection.  At 100 TB the
    weight table is still DSIR_DIM rows — the broadcast never grows.

    Output: (id, is_target, n_feats, llr_q, dsir_weight, leans_target)
    where llr_q is the exact integer micro-nat sum (the reproducible
    ranking key), dsir_weight = llr_q/1e6 rounded to 4 dp, and
    leans_target = llr_q > 0.  Empty docs keep a row with n_feats = 0.
    Resampling itself is a hash gate downstream (sample_gate) with
    acceptance monotone in llr_q — kept out of this operator so the
    weights stay inspectable.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = tokens(norm)
    feats = F.concat(toks, word_shingles(toks, 2))
    bucket = (
        F.conv(F.substring(F.md5(F.col("_f")), 1, 8), 16, 10).cast("long")
        % DSIR_DIM
    )
    bf = docs.select(
        F.col("doc_id"),
        target.alias("_t"),
        F.explode(
            F.when(norm == "", F.array().cast("array<string>")).otherwise(feats)
        ).alias("_f"),
    ).select(F.col("doc_id"), "_t", bucket.alias("_b"))
    counts = bf.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("_r"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).cast("long").alias("_tc"),
    )
    # totals as an unpartitioned window over the <= DSIR_DIM count rows: a
    # separate .agg() would re-run the whole explode+count lineage (a
    # third pass over the corpus); the window moves only DSIR_DIM rows to
    # one task.  Net: the canonical two DSIR passes — fit, then score.
    wtot = Window.partitionBy()
    rtot = F.sum("_r").over(wtot).cast("long")
    ttot = F.sum("_tc").over(wtot).cast("long")
    w_q = F.round(
        F.log(
            ((F.col("_tc") + 1) * (rtot + DSIR_DIM)).cast("double")
            / ((F.col("_r") + 1) * (ttot + DSIR_DIM)).cast("double")
        )
        * 1000000.0,
        0,
    ).cast("long")
    weights = counts.select("_b", w_q.alias("_wq"))
    scored = (
        bf.join(F.broadcast(weights), "_b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("_wq").cast("long").alias("llr_q"),
        )
    )
    base = docs.select(F.col("doc_id"), target.cast("int").alias("is_target"))
    return base.join(scored, "doc_id", "left").select(
        F.col("doc_id"),
        "is_target",
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("llr_q", F.lit(0)).cast("long").alias("llr_q"),
        # tie-stable 4-dp (see textops.quality.round4_stable): llr_q is
        # an exact integer of micro-nats, so llr_q/100.0 lands EXACTLY
        # on x.5 whenever llr_q % 100 == 50 — F.round (HALF_UP) and
        # DuckDB ROUND then disagree; floor(x/100 + 0.5)/1e4 is
        # IEEE-identical on both engines
        (
            F.floor(
                F.coalesce(F.col("llr_q"), F.lit(0)) / F.lit(100.0) + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("dsir_weight"),
        (F.coalesce(F.col("llr_q"), F.lit(0)) > 0).cast("int").alias(
            "leans_target"
        ),
    )


def training_order(df: DataFrame, n_shards: int = 64, salt: str = "order") -> DataFrame:
    """Deterministic global training-order shuffle — the step between a
    packed corpus and the trainer's data loader.  ``df.orderBy(rand())``
    re-draws under task retries and cannot be reproduced across reruns;
    hashing gives the same uniform shuffle with a proof of order:
    order_key = md5(salt:id), shard = leading-32-bit bucket of a
    DIFFERENT salt (shard and order are independent draws, so shard
    files are internally shuffled too), pos = rank of order_key within
    the shard.  Any worker can re-derive its exact byte stream from
    (salt, n_shards) alone; changing the salt is a fresh epoch-level
    reshuffle.

    Output: (id, shard, pos, order_key).  Scale: one hash projection,
    then exactly the Exchange(shard)+sort the shard WRITE needs anyway
    — the ordering costs nothing beyond materializing the files; no
    global sort, no single-partition stage.
    """
    key = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))), 1, 16
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}/shard:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("order_key")
    return (
        df.select(
            F.col("doc_id"), shard.alias("shard"), key.alias("order_key")
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos", "order_key")
    )


def weighted_sample(df: DataFrame, k: int) -> DataFrame:
    """Exact weighted sampling without replacement: k docs per stratum,
    inclusion odds proportional to an integer weight — deterministic.

    Scheme (integer Efraimidis–Spirakis): each doc casts `weight`
    (``doc_id % 4 + 1``) independent md5 draws and keeps the minimum; the k smallest keys
    per stratum win.  For two docs the winner odds are exactly
    w_i/(w_i+w_j) in the continuous limit, and because every draw is a
    24-bit integer from md5('wsamp':id:replica), the kept set is identical
    from any engine, partitioning or retry — unlike df.sample(), and
    unlike float u^(1/w) keys whose ln/pow round-trips differ across
    engines.  Integer weights are the corpus-quality contract upstream
    (quality_buckets emits small-int buckets).

    Scale: the explode fans each row out w times BUT carries only
    (id, stratum) — text never replicates; the min-per-doc groupBy
    combines map-side (each input partition emits one partial min per
    doc), and the per-stratum top-k is a rank window over |docs|
    narrow rows.  Two shuffles total, both on narrow keys.

    Output: (doc_id, stratum, weight, draw_key, rk) for the winners.
    """
    w_col = (F.col("doc_id") % 4 + 1).cast("int")
    replicas = df.select(
        F.col("doc_id"),
        F.col("lang").alias("stratum"),
        w_col.alias("weight"),
        F.explode(F.sequence(F.lit(0), w_col - 1)).alias("r"),
    )
    h = F.md5(
        F.concat(
            F.lit("wsamp"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("r").cast("string"),
        )
    )
    draws = replicas.select(
        "doc_id",
        "stratum",
        "weight",
        F.conv(F.substring(h, 1, 6), 16, 10).cast("long").alias("draw"),
    )
    keyed = draws.groupBy("doc_id", "stratum", "weight").agg(
        F.min("draw").alias("draw_key")
    )
    rk = F.row_number().over(
        Window.partitionBy("stratum").orderBy("draw_key", "doc_id")
    )
    return keyed.select(
        "doc_id", "stratum", "weight", "draw_key", rk.alias("rk")
    ).filter(F.col("rk") <= k)


def leakage_split(docs: DataFrame, ratios: tuple = (80, 10, 10)) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is drawn per
    DEDUP CLUSTER, not per document, so two copies of the same content
    can never land on opposite sides of the train/eval boundary — the
    contamination mode per-doc random splits are blind to.

    Cluster = min doc id over the exact-content fingerprint (callers
    with a near-dup closure should pre-join their cluster id and use
    it as ``text``'s stand-in upstream; the gate logic is
    identical).  Bucket = leading-16-bit :func:`hex_bucket` of the
    CLUSTER id mod 100 against cumulative ``ratios`` (train/val/test
    percents summing to 100).

    Output: (doc_id, cluster_id, bucket, split).

    Scale shape: fingerprints reduce map-side; only (id, fp) rows
    shuffle (text never crosses the wire); the cluster draw is a hash,
    not a rand() — stable under task retry and reproducible from
    ('split' salt, ratios) alone.
    The 16-bit-mod-100 bucket has a <0.2% uniformity bias, irrelevant
    for split ratios.
    """
    if len(ratios) != 3 or sum(ratios) != 100:
        raise ValueError(f"ratios must be 3 percents summing to 100: {ratios}")
    t_train, t_val = ratios[0], ratios[0] + ratios[1]
    base = docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("fp"))
    clusters = base.groupBy("fp").agg(F.min("doc_id").alias("cluster_id"))
    bucket = (hex_bucket(F.col("cluster_id"), "split", 4) % 100).cast("int")
    return (
        base.join(clusters, "fp")
        .select("doc_id", "cluster_id", bucket.alias("bucket"))
        .withColumn(
            "split",
            F.when(F.col("bucket") < t_train, F.lit("train"))
            .when(F.col("bucket") < t_val, F.lit("val"))
            .otherwise(F.lit("test")),
        )
    )


def lang_fertility(df: DataFrame) -> DataFrame:
    """Per-language tokenizer-fertility profile: characters, UTF-8
    bytes, and whitespace tokens per language, with chars/token and
    bytes/token ratios.

    Fertility (units consumed per token) is what actually prices a
    language in a multilingual training mix: a byte-level or
    byte-fallback tokenizer spends ~4 bytes per CJK character, so
    equal-token sampling silently underweights high-fertility
    languages — the standard correction (XLM-R, BLOOM) starts from
    exactly this table.  It complements :func:`corpus_mix_report`
    (docs/tokens/share) and :func:`temperature_mix` (sampling rates)
    with the per-token COST side of the ledger.

    Whitespace tokens are this engine's corpus-wide token contract
    (textops/exprs.tokens — the BPE-ish regex variant lives in
    token_stats); chars are Unicode code points (``length``), bytes
    UTF-8 (``octet_length``) — both pure codegen, one map-side-combined
    groupBy on the language, nothing but (lang, 3 longs) shuffles.

    Returns ``(lang, n_docs, n_tokens, n_chars, n_bytes,
    chars_per_token, bytes_per_token)`` — ratios rounded to 4 dp, NULL
    when a language has zero tokens.
    """
    from .exprs import tokens

    txt = F.col("text")
    per = df.groupBy(F.col("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(txt))).cast("long").alias("n_tokens"),
        F.sum(F.length(txt)).cast("long").alias("n_chars"),
        F.sum(F.octet_length(txt)).cast("long").alias("n_bytes"),
    )
    tok = F.col("n_tokens").cast("double")
    return per.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_bytes",
        F.when(tok > 0, F.round(F.col("n_chars") / tok, 4)).alias(
            "chars_per_token"
        ),
        F.when(tok > 0, F.round(F.col("n_bytes") / tok, 4)).alias(
            "bytes_per_token"
        ),
    )


def pmi_collocations(
    docs: DataFrame,
    top_k: int = 200,
) -> DataFrame:
    """Pointwise mutual information over adjacent token bigrams —
    collocation mining: ``pmi = ln(p(w1,w2) / (p(w1)·p(w2)))`` with
    ``p(w1,w2) = c12/N_big`` and ``p(w) = c/N_uni``.

    What it's for in a training-data pipeline: high-PMI pairs are the
    multiword units a tokenizer should merge (the statistic BPE
    implicitly chases), near-zero PMI across the corpus head is a
    machine-generated-text smell (independent token draws), and the
    top-k table is data-card material next to :func:`zipf_fit`.  The
    count >= 5 gate kills the classic PMI pathology (rare pairs
    scoring highest on noise).

    Scale shape: bigrams by per-doc tail-zip (narrow), ONE map-side-
    combined groupBy for pair counts and one for unigrams; the unigram
    relation joins back per-SIDE onto the ranked pair head (top_k rows
    after a TakeOrdered, never a global sort).  ln() is transcendental
    — the module's cross-engine contract rounds it to 4 dp, same as
    the entropy column in :func:`host_language_profile`.

    Returns ``(w1, w2, cnt, pmi, rank)`` — rank by count desc then
    (w1, w2) asc.
    """
    toks = tokens(F.col("text"))
    n = F.size(toks)
    grams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        docs.select(F.explode(grams).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = docs.agg(
        F.sum(n).cast("double").alias("n_uni"),
        F.sum(n - 1).cast("double").alias("n_big"),
    )
    head = pairs.orderBy(
        F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)
    joined = (
        head.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("_c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("_c2")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("cnt") / F.col("n_big"))
        / ((F.col("_c1") / F.col("n_uni")) * (F.col("_c2") / F.col("n_uni")))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc())
    return joined.select(
        "w1",
        "w2",
        "cnt",
        F.round(pmi, 4).alias("pmi"),
        F.row_number().over(w).alias("rank"),
    )
