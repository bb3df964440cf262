"""Inverted-index / retrieval primitives over the documents table.

The corpus ops in :mod:`quality` score documents; this module builds the
*term-side* structures a retrieval or data-curation pipeline needs: a
BM25-scored postings index (top documents per term) that downstream
dedup-by-query, contamination probes, and keyword routing can join
against.

Reference parity note: the reference engine (ClericPy/uniparser) has no
retrieval layer — this is part of the beyond-reference LLM-data-pipeline
surface (SURVEY.md §2 extension), built to the same bit-stability
contract as ``quality.doc_keywords``.

Scale shape: tokenize → one explode → two map-side-combined counts
(term frequency per doc with the doc length carried through the
aggregate — no per-doc join — and document frequency per term) → a
broadcast single-row corpus-stats join → per-term top-k via the
rank≤k window (WindowGroupLimit pushes the truncation map-side, so the
full postings list for a stop-word-ish term never assembles on one
node).  The only shuffles carry ``(doc_id, term, tf, dl)`` — never text.

Bit-stability: BM25's idf uses the RATIONAL form
``(N - df + 0.5) / (df + 0.5)`` (no logarithm), and the length
normalization is pure IEEE +,×,÷ with literal constants
(``k1+1`` and ``1-b`` folded at authoring time), so the DuckDB oracle
computes the identical double before the shared ROUND(·, 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .exprs import tokens

BM25_K1 = 1.2  # term-frequency saturation
BM25_B = 0.75  # document-length normalization


def bm25_index(df: DataFrame, topk: int = 5) -> DataFrame:
    """BM25 postings index: for every term with document frequency
    ``>= 2``, the ``topk`` best documents by BM25 score.

    Output: ``(term, df, top_doc, top_score, postings)`` where
    ``postings`` is a '|'-joined ``rank:doc_id`` list (rank
    zero-padded to 2 so lexicographic order == rank order) and
    ``top_score`` is the rank-1 BM25 score rounded to 4 dp.  Ties
    break on ascending doc_id so output is engine-independent.
    """
    toks = tokens(F.col("text"))
    lens = df.select(F.col("doc_id"), F.size(toks).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    terms = df.select(
        F.col("doc_id"), F.size(toks).alias("dl"), F.explode(toks).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    tfn = (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))
    )
    scored = (
        tf.join(dfreq, "term")
        .filter(F.col("df") >= 2)
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            "df",
            F.round(idf * tfn, 4).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= topk
    )
    return ranked.groupBy("term").agg(
        F.max("df").alias("df"),
        F.max(F.when(F.col("_rk") == 1, F.col("doc_id"))).alias("top_doc"),
        F.max(F.when(F.col("_rk") == 1, F.col("score"))).alias("top_score"),
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.concat(
                        F.lpad(F.col("_rk").cast("string"), 2, "0"),
                        F.lit(":"),
                        F.col("doc_id"),
                    )
                )
            ),
            "|",
        ).alias("postings"),
    )


def phrase_positions(docs: DataFrame, phrase: str) -> DataFrame:
    """Exact-phrase search — the positional twin of :func:`bm25_index`
    (bag-of-words ranking cannot distinguish "new york" from "york
    new"; deduplication forensics and quote-tracking need the exact
    sequence).  Token-level matching after lowercase/whitespace
    normalization: occurrence = a token offset where the next k tokens
    equal the phrase's k tokens.

    Output: one row per input doc — (id, n_occurrences, first_pos,
    last_pos), positions 0-based token offsets, NULL when absent.
    Keeping non-matching rows makes the operator a scoring projection
    (filter n_occurrences > 0 for retrieval semantics).

    Scale: zero Exchange, zero Python — the window comparison is an
    array-lambda filter over token offsets inside the scan stage,
    whole-stage codegen; a multi-phrase variant is a literal-array
    cross-explode over the same projection.
    """
    p = phrase.lower().split()
    k = len(p)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = tokens(norm)
    window_eq = lambda i: (
        F.concat_ws(" ", F.slice(toks, i + 1, k)) == F.lit(" ".join(p))
    )
    starts = F.when(
        (norm != "") & (F.size(toks) >= k),
        F.filter(F.sequence(F.lit(0), F.size(toks) - k), window_eq),
    ).otherwise(F.array().cast("array<int>"))
    return docs.select(
        F.col("doc_id"),
        F.size(starts).cast("long").alias("n_occurrences"),
        # try_element_at: ANSI mode errors on out-of-bounds element_at,
        # and the empty (no-match) array must yield NULL positions
        F.try_element_at(starts, F.lit(1)).cast("long").alias("first_pos"),
        F.try_element_at(starts, F.lit(-1)).cast("long").alias("last_pos"),
    )


def posting_gaps(df: DataFrame) -> DataFrame:
    """Posting-list compression audit: per-term delta-gaps and their
    Elias-γ bit cost.

    Every planet-scale index stores postings delta-gap-encoded; how
    well that works is a property of the CORPUS (dense common terms
    compress to ~2 bits/posting, hapax-heavy vocabularies don't).
    This audit prices the index before building it — the capacity-
    planning twin of :func:`bm25_index`, on the same postings shape.

    Per term (document-presence postings, ascending ``doc_id``): the
    first posting costs ``γ(doc_id + 1)`` and each subsequent one
    ``γ(gap)`` where ``γ(x) = 2·⌊log2 x⌋ + 1`` bits — computed exactly
    as ``2·length(bin(x)) - 1`` (integer, no float log), so the DuckDB
    oracle is bit-identical.  Gaps are ≥ 1 (ids distinct), γ is total.

    Shape: explode → distinct (term, doc_id) (map-side combined), ONE
    Exchange on the term; the lag window and the closing groupBy share
    that partitioning (grouping runs in place, same contract as
    crawl/sessions.py).  Only ``(term, doc_id)`` ever shuffles.

    Returns ``(term, df, gamma_bits, bits_per_posting,
    compression_ratio)`` — ratio vs raw 64-bit ids, rounded to 4 dp.
    """
    post = (
        df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term"))
        .distinct()
    )
    w = Window.partitionBy("term").orderBy(F.col("doc_id").asc())
    gamma = lambda x: F.lit(2) * F.length(F.bin(x)) - F.lit(1)  # noqa: E731
    prev = F.lag("doc_id").over(w)
    cost = F.when(prev.isNull(), gamma(F.col("doc_id") + 1)).otherwise(
        gamma(F.col("doc_id") - prev)
    )
    per = (
        post.select("term", F.col("doc_id"), cost.alias("_bits"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("_bits").alias("gamma_bits"),
        )
        .filter(F.col("df") >= 3)
    )
    return per.select(
        "term",
        "df",
        "gamma_bits",
        F.round(F.col("gamma_bits") / F.col("df"), 4).alias("bits_per_posting"),
        F.round(F.col("df") * F.lit(64.0) / F.col("gamma_bits"), 4).alias(
            "compression_ratio"
        ),
    )
