"""Corpus cleaning operators — the C4 / Gopher / RefinedWeb family.

Large-scale webtext pipelines run a standard cleaning pass between the
crawl and training: line-level boilerplate filters (C4: keep lines that
look like sentences), repetition signals (Gopher: duplicate line /
paragraph fractions), PII redaction, and corpus-wide duplicated-span
removal (RefinedWeb).  These operators implement that pass Spark-first:
everything per-document is a built-in column expression (whole-stage
codegen, one corpus scan), and the one corpus-wide operator
(``para_dedup``) shuffles only narrow ``(fingerprint, doc_id, idx)``
rows — document text crosses the wire exactly once, in the final join.

The sf ``documents`` table is single-line word soup, so the query
wrappers in ``suite.py`` first synthesize a deterministic page (lines,
paragraphs, boilerplate chrome, PII strings derived from ``doc_id``)
with engine-portable string expressions; the DuckDB oracle
re-synthesizes the identical page, making every downstream value
independently checkable.

Reference scope note: the reference (uniparser) stops at per-page rule
extraction (parsers.py:159-805); this module is part of the
training-data layer the north rule adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..engine.rows import local_frame
from .exprs import h16, tokens, word_shingles

# ---------------------------------------------------------------- synthesis
# Deterministic page synthesis shared with the DuckDB oracles (suite.py
# PAGE_SQL): 8-token lines, a period on lines ending in a marker word,
# 4-line paragraphs, boilerplate header/footer, doc_id-derived PII.
LINE_RE = r"((?:\S+ ){7}\S+) "  # 8 tokens + the following space -> newline
PUNCT_RE = r"(table|value)(\n)"  # lines ending in these read like sentences
PARA_RE = r"((?:[^\n]+\n){3}[^\n]+)\n"  # every 4th newline -> blank line

HEADER = "home about contact login"
FOOTER = "copyright example com all rights reserved."

# PII patterns, deliberately inside the common RE2/Java regex subset
# (no lookaround, no backreferences) so Spark and the oracle agree.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9]{1,2} [0-9]{3} [0-9]{4}"

REP_NS = (2, 3)  # word n-gram orders of ngram_repetition


def synth_page_expr() -> Column:
    """Build the synthetic page column (see module docstring).

    Page layout (paragraphs separated by blank lines): shared header
    chrome | body paragraphs | the first body line again (sidebar-style
    within-doc repetition, so Gopher duplicate-line fractions are
    non-trivial) | doc-specific PII line | shared footer.  Header and
    footer are identical across documents — corpus-wide paragraph dedup
    removes them, which is exactly the boilerplate-removal semantics
    the operator exists for."""
    body = F.regexp_replace(F.col("text"), LINE_RE, "$1\n")
    body = F.regexp_replace(body, PUNCT_RE, "$1.$2")
    body = F.regexp_replace(body, PARA_RE, "$1\n\n")
    first_line = F.substring_index(body, "\n", 1)
    did = F.col("doc_id")
    pii = F.concat(
        F.lit("contact user"),
        (did % 50).cast("string"),
        F.lit("@example.com call +1 555 "),
        (did % 9000 + 1000).cast("string"),
        F.lit(" from 10."),
        (did % 256).cast("string"),
        F.lit(".0."),
        ((did * 7) % 256).cast("string"),
    )
    sep = F.lit("\n\n")
    return F.concat(
        F.lit(HEADER), sep, body, sep, first_line, sep, pii, sep, F.lit(FOOTER)
    )


def with_page(df: DataFrame) -> DataFrame:
    return df.select(F.col("doc_id"), synth_page_expr().alias("page"))


# ------------------------------------------------------------- line filters
def c4_line_filter(df: DataFrame) -> DataFrame:
    """C4-style line-level cleaning: keep lines that end in terminal
    punctuation, have at least 4 words, and are not
    boilerplate (nav/footer markers).  Pure array expressions — one
    scan, no shuffle, the whole filter runs inside codegen."""
    lines = F.split(F.col("page"), "\n")

    def keep(line: Column) -> Column:
        return (
            (F.size(F.split(line, " ")) >= 4)
            & line.endswith(".")
            & ~line.contains("login")
            & ~line.contains("copyright")
        )

    kept = F.filter(lines, keep)
    return df.select(
        F.col("doc_id"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-line and
    duplicate-paragraph fractions, line-length extremes.  Documents with
    high duplicate fractions are templated/boilerplate pages a training
    pipeline drops.  No shuffle; ratios rounded to 4 dp for the oracle."""
    lines = F.filter(
        F.split(F.col("page"), "\n"), lambda l: F.length(l) > 0
    )
    paras = F.split(F.col("page"), "\n\n")
    n_lines = F.size(lines).cast("double")
    n_paras = F.size(paras).cast("double")
    return df.select(
        F.col("doc_id"),
        n_lines.cast("long").alias("n_lines"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(lines)) / n_lines, 4
        ).alias("dup_line_frac"),
        n_paras.cast("long").alias("n_paras"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(paras)) / n_paras, 4
        ).alias("dup_para_frac"),
        F.array_max(F.transform(lines, F.length)).alias("max_line_len"),
        F.round(
            F.aggregate(lines, F.lit(0), lambda a, l: a + F.length(l))
            / n_lines,
            4,
        ).alias("avg_line_len"),
    )


def pii_redact(df: DataFrame) -> DataFrame:
    """PII scrubbing: emails / IPv4s / phone numbers -> typed
    placeholders, with per-document match counts.  A regexp_replace
    chain in one projection — codegen end to end, counts come from
    ``regexp_count`` on the unredacted text."""
    col = F.col("page")
    redacted = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(redacted, IP_RE, "<IP>")
    redacted = F.regexp_replace(redacted, PHONE_RE, "<PHONE>")
    return df.select(
        F.col("doc_id"),
        F.regexp_count(col, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(col, F.lit(IP_RE)).alias("n_ips"),
        F.regexp_count(col, F.lit(PHONE_RE)).alias("n_phones"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------- corpus-wide span dedup
def para_dedup(df: DataFrame) -> DataFrame:
    """RefinedWeb-style duplicated-span removal: corpus-wide keep-first
    dedup of paragraphs, then reassemble each document from its
    surviving paragraphs.

    Scale shape: the paragraph TEXT never enters a shuffle.  The
    exploded relation is immediately narrowed to ``(fp16, doc_id,
    idx)``; the keep-first decision is a window over fp on that narrow
    relation; decisions are re-grouped per doc into a sorted index
    array (still narrow); only the final doc-level join moves the
    original text — once, and Exchange-free when the corpus table is
    bucketed by doc_id (tools/bucketed_join_demo.py shows that
    deployment shape).  Naive reassembly from the exploded paragraphs
    would shuffle the full corpus text twice instead.
    """
    paras_arr = F.split(F.col("page"), "\n\n")
    narrow = df.select(
        F.col("doc_id"), F.posexplode(paras_arr).alias("idx", "para")
    ).select("doc_id", "idx", h16(F.col("para")).alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id", "idx")
    kept_idx = (
        narrow.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("idx")).alias("keep_idx"))
    )
    return (
        df.join(kept_idx, "doc_id")
        .select(
            F.col("doc_id"),
            F.size(paras_arr).alias("n_paras"),
            F.size(F.col("keep_idx")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.col("keep_idx"),
                    lambda i: F.element_at(paras_arr, i + 1),
                ),
                "\n\n",
            ).alias("clean_text"),
        )
    )


def boilerplate_lines(df: DataFrame) -> DataFrame:
    """HOST-scoped boilerplate line discovery (the CC-Net move): a line
    that appears on at least half of a host's pages is chrome —
    nav, footer, cookie banner — not content, and should be stripped
    from EVERY page of that host (unlike corpus-wide keep-first
    paragraph dedup, which wrongly keeps the first copy of chrome).
    Hosts with fewer than 5 pages are never classified
    (frac is meaningless at tiny n).

    Returns one row per (host, distinct line): ``(host, fp, line,
    n_docs, host_docs, frac, boilerplate)``.  Compose with an
    anti-join on (host, fp) over exploded lines for the strip side.

    Scale shape: each page's lines are deduped in-array (so a line
    repeated within one page counts once), exploded to narrow
    ``(host, fp, line)`` rows, and counted by ONE map-side-combined
    groupBy; per-host page counts are a second tiny aggregate joined
    back by broadcast.  The shuffle carries one short line per
    distinct (host, line) — never the page text.
    """
    lines = F.array_distinct(
        F.filter(F.split(F.col("page"), "\n"), lambda l: l != F.lit(""))
    )
    narrow = df.select(
        F.col("host"),
        F.explode(lines).alias("line"),
    ).select("host", h16(F.col("line")).alias("fp"), "line")
    per_line = narrow.groupBy("host", "fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("line").alias("line"),
    )
    host_docs = (
        df.groupBy(F.col("host"))
        .agg(F.count(F.lit(1)).alias("host_docs"))
    )
    frac = F.round(
        F.col("n_docs").cast("double") / F.col("host_docs").cast("double"),
        4,
    )
    return per_line.join(F.broadcast(host_docs), "host").select(
        "host",
        "fp",
        "line",
        "n_docs",
        "host_docs",
        frac.alias("frac"),
        (
            (F.col("host_docs") >= 5)
            & (
                F.col("n_docs").cast("double")
                >= F.lit(0.5) * F.col("host_docs").cast("double")
            )
        )
        .cast("int")
        .alias("boilerplate"),
    )


def ngram_repetition(df: DataFrame) -> DataFrame:
    """The remaining Gopher repetition signal: the fraction of tokens
    covered by the most frequent word n-gram (top-2-gram fraction over
    ~0.2 marks templated text).

    Scale shape: per-doc mode-finding is NOT done with quadratic array
    lambdas — the doc explodes to narrow ``(doc_id, n, gram)`` rows,
    counted by a map-side-combined groupBy, reduced to the per-doc max
    (second narrow shuffle), and left-joined back to the token counts.
    Ties need no break: only the max count is emitted.
    """
    toks = tokens(F.col("text"))

    # NB: a `lambda g, n=n:` two-parameter lambda would be treated by
    # F.transform as (element, index) — the factory keeps it unary.
    def _tag(n: int):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    grams = F.flatten(
        F.array(*[F.transform(word_shingles(toks, n), _tag(n)) for n in REP_NS])
    )
    narrow = (
        df.select(F.col("doc_id"), F.explode(grams).alias("x"))
        .select("doc_id", "x.n", "x.g")
    )
    maxes = (
        narrow.groupBy("doc_id", "n", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id", "n")
        .agg(F.max("c").alias("mc"))
    )
    piv = maxes.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("mc"))).alias(
                f"top_{n}gram_cnt"
            )
            for n in REP_NS
        ]
    )
    base = df.select(F.col("doc_id"), F.size(toks).alias("n_tokens"))
    out = base.join(piv, "doc_id", "left")
    for n in REP_NS:
        out = out.withColumn(
            f"top_{n}gram_frac",
            F.round(
                F.col(f"top_{n}gram_cnt") * n / F.col("n_tokens"), 4
            ),
        )
    return out


def accent_synth_expr() -> Column:
    """Deterministic unicode synthesis for the normalization oracle:
    even doc_ids get precomposed accents ('a' → U+00E1), odd get the
    decomposed pair ('a' → 'a' + U+0301) — NFC maps both to the same
    string, which is exactly what the operator must prove."""
    return F.when(
        F.col("doc_id") % 2 == 0,
        F.regexp_replace(F.col("text"), "a", "\u00e1"),  # precomposed
    ).otherwise(
        F.regexp_replace(F.col("text"), "a", "a\u0301")  # decomposed
    )


def text_normalize(df: DataFrame) -> DataFrame:
    """Unicode normalization: NFC plus accent folding (NFD → drop
    combining marks → NFC).  Spark has no JVM-side NFC expression, so
    this is an honest Arrow-batched Python stage (stdlib unicodedata;
    one Arrow crossing, vectorized pandas .map).  The DuckDB twin is
    nfc_normalize + strip_accents — verified algorithm-equal on
    decomposable and non-decomposable (ø œ ß) codepoints alike."""
    import unicodedata
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_chars_raw", LongType(), False),
            StructField("n_chars_nfc", LongType(), False),
            StructField("changed", BooleanType(), False),
            StructField("nfc", StringType(), False),
            StructField("folded", StringType(), False),
        ]
    )

    def _fold(s: str) -> str:
        nfd = unicodedata.normalize("NFD", s)
        return unicodedata.normalize(
            "NFC",
            "".join(c for c in nfd if unicodedata.category(c) != "Mn"),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            raw = batch["text"].fillna("")
            nfc = raw.map(lambda s: unicodedata.normalize("NFC", s))
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].astype("int64"),
                    "n_chars_raw": raw.map(len).astype("int64"),
                    "n_chars_nfc": nfc.map(len).astype("int64"),
                    "changed": (raw != nfc),
                    "nfc": nfc,
                    "folded": nfc.map(_fold),
                }
            )

    return df.select("doc_id", "text").mapInPandas(run, schema=schema)


def doc_filter(df: DataFrame) -> DataFrame:
    """Document-level admission filter — the C4/Gopher doc rules with
    an explainable verdict: ``admit`` plus the FIRST failing rule as
    ``reason`` (too_short | word_length | boilerplate | repetition).

    Completes the cleaning pass's three levels: line (c4_line_filter),
    document (this), corpus (para_dedup).  Everything is one codegen
    projection over the page — the measured stats ship with the verdict
    so downstream audits don't re-scan the corpus.
    """
    toks = tokens(F.col("page"))
    n_tok = F.size(toks)
    mean_wl = F.round(
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
        / n_tok.cast("double"),
        4,
    )
    lines = F.filter(F.split(F.col("page"), "\n"), lambda l: F.length(l) > 0)
    dup_frac = F.round(
        F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines).cast("double"),
        4,
    )
    boiler = F.col("page").contains("lorem ipsum") | F.col("page").contains("{")
    reason = (
        F.when(n_tok < 60, F.lit("too_short"))
        .when(
            (mean_wl < 3.0) | (mean_wl > 10.0),
            F.lit("word_length"),
        )
        .when(boiler, F.lit("boilerplate"))
        .when(dup_frac > 0.10, F.lit("repetition"))
    )
    return df.select(
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        dup_frac.alias("dup_line_frac"),
        reason.isNull().alias("admit"),
        reason.alias("reason"),
    )


# -------------------------------------------------------------- corpus vocab
def gopher_signals(
    df: DataFrame,
    text_col: str = "page",
    id_col: str = "doc_id",
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
) -> DataFrame:
    """Gopher-style symbol/layout quality signals (Rae et al. 2021
    §A1.1) not covered by :func:`doc_filter`'s length/repetition rules:

    - ``symbol_word_ratio``: ('#' chars + '...' sequences) / words;
    - ``bullet_line_frac``: lines starting with '-', '*' or '•';
    - ``ellipsis_line_frac``: lines ending with '...' or '…';
    - ``alpha_word_frac``: words containing at least one ASCII letter;
    - ``verdict``: ``keep`` or the FIRST violated rule
      (symbol_ratio > bullet_lines > ellipsis_lines > alpha_words).

    All ratios 4 dp.  Pure string/array expressions — one scan, zero
    shuffles, whole plan inside codegen (the 100 TB-shaped way to run a
    per-document filter)."""
    text = F.col(text_col)
    lines = F.split(text, "\n")
    words = F.filter(F.split(text, "[ \n]+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    n_lines = F.size(lines)
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ell = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3
    bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
        )
    )
    ell_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    sym_r = (n_hash + n_ell) / n_words
    bul_f = bullet / n_lines
    ell_f = ell_lines / n_lines
    alp_f = alpha / n_words
    verdict = (
        F.when(sym_r > max_symbol_ratio, F.lit("symbol_ratio"))
        .when(bul_f > max_bullet_frac, F.lit("bullet_lines"))
        .when(ell_f > max_ellipsis_frac, F.lit("ellipsis_lines"))
        .when(alp_f < min_alpha_frac, F.lit("alpha_words"))
        .otherwise(F.lit("keep"))
    )
    return df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        n_words.alias("n_words"),
        F.round(sym_r, 4).alias("symbol_word_ratio"),
        F.round(bul_f, 4).alias("bullet_line_frac"),
        F.round(ell_f, 4).alias("ellipsis_line_frac"),
        F.round(alp_f, 4).alias("alpha_word_frac"),
        verdict.alias("verdict"),
    )


def top_tokens(df: DataFrame, k: int = 50) -> DataFrame:
    """Corpus vocabulary: top-k tokens by document frequency and total
    count.  Explode + two-phase aggregation (map-side partial combine,
    one shuffle on the token key), then a TakeOrdered top-k — the
    canonical corpus-stats shape at any scale."""
    toks = F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    counts = (
        df.select(F.col("doc_id"), toks)
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    return (
        counts.orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
        .select("token", "n_occurrences", "n_docs")
    )


def wordlist_filter(df: DataFrame, words: list) -> DataFrame:
    """C4-style wordlist admission filter: flag documents containing any
    token from a blocklist (C4 drops pages hitting the public
    "dirty/naughty/obscene" list; the same operator serves allowlists,
    compliance terms, or leak canaries — the list is caller-supplied
    policy, not code).

    Matching is EXACT lowercase-token equality after the module's
    whitespace normalization — the C4 word-boundary contract (substring
    matching flags "class" for "ass"; token equality does not).

    Output: (id, n_tokens, n_flagged, flagged_frac 4-dp, admitted) —
    one row per input doc, admitted = 1 iff no hit; empty docs admit.

    Scale: the list broadcasts (wordlists are KBs); tokens explode in
    the scan stage and die at the broadcast join; the one shuffle is
    the map-side-combined groupBy(id) of narrow count partials.  For
    lists small enough, Catalyst would also accept an isin()/array
    literal — the join form keeps the plan identical when the list
    grows to millions of terms (then it shuffles instead of
    broadcasting, same operator).
    """
    spark = df.sparkSession
    wl = F.broadcast(
        local_frame(spark, [(w.lower(),) for w in sorted(set(words))], "_w string")
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = tokens(norm)
    base = df.select(
        F.col("doc_id"),
        F.explode(
            F.when(norm == "", F.array().cast("array<string>")).otherwise(toks)
        ).alias("_t"),
    )
    hits = base.join(wl, base["_t"] == wl["_w"], "left")
    per = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_w").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
    )
    out = df.select(F.col("doc_id")).join(per, "doc_id", "left")
    return out.select(
        F.col("doc_id"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged"),
        F.round(
            F.coalesce(F.col("n_flagged"), F.lit(0)).cast("double")
            / F.greatest(F.coalesce(F.col("n_tokens"), F.lit(0)), F.lit(1)).cast(
                "double"
            ),
            4,
        ).alias("flagged_frac"),
        (F.coalesce(F.col("n_flagged"), F.lit(0)) == 0).cast("int").alias(
            "admitted"
        ),
    )
