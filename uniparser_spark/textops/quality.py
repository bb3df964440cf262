"""Text analysis: token stats, quality scoring, language ID, fingerprints.

All pure DataFrame expressions (whole-stage codegen; the parquet scan
reads only (id, text) — column pruning visible in .explain as ReadSchema).
Ratios are double precision rounded to 4 decimals so they hash-match the
DuckDB oracle exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from ..engine.rows import map_rows
from .exprs import h16, split_tokens, tokens, word_grams, word_shingles

# Tiny per-language stopword lists for the n-gram-free heuristic
# language-ID below.  Chosen for mutual exclusivity, not linguistic
# completeness — the operator contract is determinism, and the oracle
# recomputes the identical vote.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "los", "las", "es", "un", "una", "en", "que"),
}

# BPE-ish pre-tokenization: letter runs, digit runs, single other glyphs
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _sw_count(toks: Column, words) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def token_stats(df: DataFrame) -> DataFrame:
    """Per-document token counting: whitespace tokens, distinct tokens,
    BPE-ish regex tokens, mean token length (4-dp)."""
    toks = tokens(F.col("text"))
    return df.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.round(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
            / F.size(toks).cast("double"),
            4,
        ).alias("avg_token_len"),
    )


def sentence_stats(df: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats: sequence packers and
    quality filters read these (a doc whose 'sentences' average 3
    tokens is a menu, not prose; one 4,000-token 'sentence' is
    minified junk).  Sentences = non-empty segments between terminal
    punctuation runs ``[.!?]+`` — deliberately lookbehind-free so the
    DuckDB twin (RE2, no lookbehind) computes the identical split.

    Output: (id, n_sentences, avg_sent_tokens 4-dp, max_sent_tokens).
    Pure array expressions in the scan projection — no shuffle; the
    integer token-count fold is order-independent by construction.
    """
    segs = F.filter(
        F.split(F.col("page"), r"[.!?]+"),
        lambda s: F.trim(s) != F.lit(""),
    )
    tok_counts = F.transform(
        segs, lambda s: F.size(F.split(F.trim(s), r"\s+"))
    )
    n = F.size(segs)
    total = F.aggregate(tok_counts, F.lit(0), lambda a, x: a + x)
    return df.select(
        F.col("doc_id"),
        n.alias("n_sentences"),
        F.when(
            n > 0, F.round(total.cast("double") / n.cast("double"), 4)
        ).alias("avg_sent_tokens"),
        F.array_max(tok_counts).alias("max_sent_tokens"),
    )


def round4_stable(col: Column) -> Column:
    """4-dp rounding with engine-agnostic tie behavior.

    ``F.round`` HALF_UPs the shortest decimal representation of the
    double (JVM ``BigDecimal.valueOf``), while DuckDB rounds the scaled
    binary value — on half-ulp boundaries (0.69805 stores as
    0.698049999...948) the two disagree by 1e-4, which flips the
    oracle value hash at larger sf even though both are "correct"
    roundings.  ``floor(x*1e4 + 0.5)/1e4`` is pure IEEE-754 arithmetic:
    bit-identical on any engine given the same input double.  Oracles
    use the same SQL idiom (suite.py quality/dsir sites).
    """
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def quality_expr() -> Column:
    """The 0-1 quality score of ``text`` as a single reusable Column
    expression."""
    toks = tokens(F.col("text"))
    n_chars = F.length(F.col("text")).cast("double")
    n_tok = F.size(toks).cast("double")
    sw_ratio = _sw_count(toks, STOPWORDS["en"]).cast("double") / n_tok
    punct = (
        n_chars
        - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", "")).cast("double")
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    return round4_stable(
        F.lit(0.4) * F.least(F.lit(1.0), n_chars / F.lit(500.0))
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.2) * (F.lit(1.0) - punct / n_chars)
        + F.lit(0.1) * F.least(F.lit(1.0), sw_ratio * F.lit(5.0))
    )


def pred_lang_expr() -> Column:
    """Stopword-vote language prediction as one Column expression."""
    toks = tokens(F.lower(F.col("text")))
    votes = {lang: _sw_count(toks, words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*votes.values())
    return (
        F.when(best == 0, F.lit("und"))
        .when(votes["en"] == best, F.lit("en"))
        .when(votes["de"] == best, F.lit("de"))
        .when(votes["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Heuristic document quality: length score, stopword ratio,
    punctuation ratio, repetition ratio → weighted 0-1 score.

    Mirrors the shape of C4/Gopher-style quality rules; every term is a
    built-in expression so the whole score evaluates inside codegen.
    """
    toks = tokens(F.col("text"))
    n_chars = F.length(F.col("text")).cast("double")
    n_tok = F.size(toks).cast("double")
    sw = _sw_count(toks, STOPWORDS["en"]).cast("double")
    punct = (
        n_chars
        - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", "")).cast("double")
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    sw_ratio = sw / n_tok
    punct_ratio = punct / n_chars
    quality = quality_expr()
    return df.select(
        F.col("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(sw_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        quality.alias("quality"),
    )


def langid(df: DataFrame) -> DataFrame:
    """Stopword-vote language ID (deterministic heuristic).

    Vote = count of language-specific stopwords among tokens; prediction
    = argmax with fixed tie-break order en > de > fr > es > und.
    """
    toks = tokens(F.lower(F.col("text")))
    votes = {lang: _sw_count(toks, words) for lang, words in STOPWORDS.items()}
    return df.select(
        F.col("doc_id"),
        pred_lang_expr().alias("pred_lang"),
        *[votes[lang].alias(f"votes_{lang}") for lang in STOPWORDS],
    )


def corpus_filter(df: DataFrame) -> DataFrame:
    """The composed training-data admission pipeline: language filter
    (``en`` or ``und``) + quality threshold (>= 0.4) + exact keep-first
    dedup, in ONE scan of the corpus and ONE shuffle.

    All predicates are column expressions computed in the same
    projection (the scan reads (id, text) once); keep-first dedup is a
    row_number window over the normalized-content fingerprint — the
    single wide operation.  This is the shape a 100 TB admission pass
    wants: no joins of per-metric outputs, no repeated text scans.
    Returns (id, pred_lang, quality) for admitted documents.
    """
    from pyspark.sql import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    enriched = df.select(
        F.col("doc_id"),
        pred_lang_expr().alias("pred_lang"),
        quality_expr().alias("quality"),
        h16(norm).alias("content_fp"),
    ).filter(F.col("pred_lang").isin("en", "und") & (F.col("quality") >= 0.4))
    keep_first = Window.partitionBy("content_fp").orderBy("doc_id")
    return (
        enriched.withColumn("_rn", F.row_number().over(keep_first))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "pred_lang", "quality")
    )


def hashed_linear_scores(df: DataFrame) -> DataFrame:
    """fastText-style hashed linear classifier scoring — the admission
    filter real webtext pipelines run (CCNet/RefinedWeb gate documents
    on a linear model over hashed token/bigram features).

    Computation shape (the part that matters at 100 TB): unigram +
    bigram features hash into 4096 buckets, each bucket's weight is
    DERIVED IN-LINE from a hash of the bucket index — so scoring is
    explode → map-side-combined groupBy(id), all whole-stage codegen:
    no Python worker, no weight-table join, no shuffle wider than
    (id, int).  Swapping the derived weights for trained ones is a
    broadcast join against a 4096-row table — the plan otherwise
    unchanged.

    Weights here are hash-derived integers in [-1000, 1000] (a frozen
    stand-in for trained parameters, deterministic for the oracle);
    the per-doc score keeps EXACT integer arithmetic until one final
    division, so Spark and DuckDB produce bit-identical doubles: no
    float-sum ordering hazard.  The logistic readout is monotone in
    the linear score, so thresholding ``mean_w > 0`` is thresholding
    the probability at 0.5 without computing exp() (whose last-ulp
    behavior differs across engines).

    Returns (id, n_feats, w_sum, mean_w, admitted).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = tokens(norm)
    feats = F.concat(toks, word_shingles(toks, 2))
    base = df.select(
        F.col("doc_id"),
        F.explode(F.when(norm == "", F.array().cast("array<string>")).otherwise(feats)).alias("_f"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("_f")), 1, 8), 16, 10).cast("long")
        % 4096
    )
    w = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    scored = base.select(F.col("doc_id"), w.alias("_w")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.sum("_w").alias("w_sum"),
    )
    out = df.select("doc_id").join(scored, "doc_id", "left")
    mean_w = F.round(
        F.col("w_sum") / (1000.0 * F.col("n_feats")), 6
    )
    return out.select(
        F.col("doc_id"),
        F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
        F.coalesce(F.col("w_sum"), F.lit(0)).alias("w_sum"),
        mean_w.alias("mean_w"),
        F.coalesce((F.col("w_sum") > 0).cast("int"), F.lit(0)).alias("admitted"),
    )


def host_quality_stats(df: DataFrame, approx: bool = False) -> DataFrame:
    """Per-host reputation: the crawl-side aggregate of the document
    quality signals (docs, decimal-exact summed/mean quality, exact-dup
    fraction).  A frontier scheduler consumes this as a budget/priority
    signal — low-reputation hosts (spam farms, mirror clusters) get
    their crawl budget cut before their pages ever reach admission.

    One scan + one groupBy(host); the dup fraction needs COUNT(DISTINCT
    fp), which Spark plans as a partial-aggregated expand.  At 10^10
    rows pass ``approx=True``: the HLL sketch (approx_count_distinct)
    replaces the exact distinct — one ordinary two-phase aggregate, no
    expand — and the 4-dp contract makes the two indistinguishable for
    healthy hosts (oracle rows pin the exact path; a tolerance test
    pins the sketch).
    Quality is summed as DECIMAL(18,4) so the double is bit-stable
    across engines (same device as corpus_stats).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = df.select(
        F.col("host"),
        quality_expr().cast("decimal(18,4)").alias("q"),
        h16(norm).alias("fp"),
    )
    return (
        base.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("q").cast("double").alias("sum_quality"),
            (
                F.approx_count_distinct("fp") if approx else F.countDistinct("fp")
            ).alias("_n_unique_raw"),
        )
        # HLL can over-estimate (n_unique > n_docs → dup_frac < 0);
        # clamp the sketch so dup_frac keeps its documented [0,1) bound.
        .withColumn("n_unique", F.least(F.col("n_docs"), F.col("_n_unique_raw")))
        .select(
            "host",
            "n_docs",
            "sum_quality",
            F.round(
                F.lit(1.0) - F.col("n_unique") / F.col("n_docs").cast("double"), 4
            ).alias("dup_frac"),
            F.round(F.col("sum_quality") / F.col("n_docs").cast("double"), 4).alias(
                "avg_quality"
            ),
        )
    )


def doc_fingerprints(df: DataFrame, k: int = 4, impl: str = "pandas") -> DataFrame:
    """Document fingerprinting: whole-doc content hash over normalized
    text plus a winnowing-style min-gram fingerprint (min of word
    k-gram hashes — stable under local edits).

    impl='pandas' (default) computes the per-gram md5 minima in an
    Arrow-batched UDF — Spark's interpreted array lambdas cost ~20µs
    per element, ~20× hashlib (same tradeoff as MinHash signatures);
    values are identical either way.
    """
    if impl == "expr":
        norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        toks = tokens(norm)
        grams = word_shingles(toks, k)
        return df.select(
            F.col("doc_id"),
            h16(norm).alias("content_fp"),
            F.array_min(F.transform(grams, h16)).alias("min_gram_fp"),
        )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("content_fp", StringType(), True),
            StructField("min_gram_fp", StringType(), True),
        ]
    )
    md5 = hashlib.md5

    def fingerprints(doc_id, text):
        if text is None:
            return [(doc_id, None, None)]
        # the expression's norm: whitespace runs as one space, trimmed
        norm = " ".join(t for t in split_tokens(text.lower()) if t)
        grams = word_grams(split_tokens(norm), k)
        mfp = min(md5(g.encode()).hexdigest()[:16] for g in grams) if grams else None
        return [(doc_id, md5(norm.encode()).hexdigest()[:16], mfp)]

    return map_rows(df.select("doc_id", "text"), schema, fingerprints)


def winnow_fingerprints(df: DataFrame, k: int = 4, w: int = 4) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): from each doc's word ``k``-gram hash sequence,
    every window of ``w`` consecutive hashes contributes its minimum
    (rightmost on ties), and the selected ``(pos, fp)`` set is the
    document's fingerprint.  Guarantee: any shared substring of at
    least ``w + k - 1`` tokens yields at least one shared selected
    fingerprint — so partial/local copies are detectable by a plain
    equi-join on ``fp``, with expected density 2/(w+1) of the grams
    (far sparser than a full shingle index).  This is the stronger,
    position-aware sibling of the single global ``min_gram_fp`` in
    :func:`doc_fingerprints`.

    Scale shape: selection is computed per document inside ONE
    Arrow-batched crossing — a narrow transformation with NO shuffle
    at all (winnowing never looks across documents); joins against the
    emitted ``(doc_id, pos, fp)`` relation are the caller's choice.
    hashlib.md5 keeps values byte-identical to the DuckDB oracle,
    which re-derives the selection relationally (min_by over a
    ROWS-window) — a genuine cross-algorithm check.

    Docs with fewer than ``k`` tokens emit nothing; docs with fewer
    than ``w`` grams degenerate to one window over all grams (the
    standard convention).
    """
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("pos", IntegerType(), False),
            StructField("fp", StringType(), False),
        ]
    )
    md5 = hashlib.md5

    def winnow(doc_id, text):
        hs = [
            md5(g.encode()).hexdigest()[:16]
            for g in word_grams(split_tokens(text), k)
        ]
        n_grams = len(hs)
        if n_grams == 0:
            return []
        sel = set()
        for p in range(max(n_grams - w, 0) + 1):
            best_pos = p
            for j in range(p + 1, min(p + w, n_grams)):
                # rightmost minimum: later position wins ties
                if hs[j] <= hs[best_pos]:
                    best_pos = j
            sel.add((best_pos, hs[best_pos]))
        return [(doc_id, pos, fp) for pos, fp in sel]

    return map_rows(df.select("doc_id", "text"), schema, winnow)


def doc_keywords(df: DataFrame, k: int = 3) -> DataFrame:
    """TF-IDF keyword extraction per document — the training-data
    pipeline's cheap topical signal (corpus mixing, domain filters,
    retrieval labels) without any model.

    idf is the RATIONAL BM25 form ``(N - df + 0.5) / (df + 0.5)``
    rather than a logarithm: same ranking monotonicity, but every
    operation is IEEE +,×,÷ (correctly rounded in both Spark and the
    DuckDB oracle) so scores are bit-stable — the same
    no-transcendentals rule as the freshness model.

    Shape: explode → two map-side-combined counts (term frequency per
    doc, document frequency per term) → broadcast N → top-k per doc via
    the rank≤k window (map-side WindowGroupLimit).  Terms are the
    engine's standard whitespace tokens (case-sensitive, same as every
    other textops operator).
    """
    toks = tokens(F.col("text"))
    terms = df.select(F.col("doc_id"), F.explode(toks).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * (
                    (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
                )
                / (F.col("df").cast("double") + F.lit(0.5)),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    topk = scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k)
    return (
        topk.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("_rk") == 1, F.col("score"))).alias("top_score"),
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.lpad(F.col("_rk").cast("string"), 2, "0"),
                            F.lit(":"),
                            F.col("term"),
                        )
                    )
                ),
                "|",
            ).alias("keywords"),
        )
    )


def readability_scores(df: DataFrame) -> DataFrame:
    """Flesch reading-ease as a webtext quality feature — rational
    arithmetic end-to-end (206.835 − 1.015·words/sentences −
    84.6·syllables/words), so the doubles hash-match the DuckDB twin.

    The classic approximations, all native expressions:
    - words     = whitespace tokens;
    - sentences = runs of ``[.!?]`` (min 1 — headlines count as one);
    - syllables = vowel-group runs over the text (``[aeiouy]+``, min 1)
      — the standard heuristic, within ~10% of dictionary counts on
      running prose (vowel-less tokens undercount by one each).

    One scan, zero shuffles, whole-stage codegen; emitted alongside a
    coarse band (easy ≥ 60 / medium ≥ 30 / hard) a corpus filter can
    cut on directly.
    """
    t = F.lower(F.col("text"))
    n_words = F.greatest(F.size(tokens(F.col("text"))), F.lit(1)).cast("double")
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    ).cast("double")
    vowel_groups = F.size(
        F.regexp_extract_all(t, F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("double")
    n_syll = F.greatest(vowel_groups, F.lit(1.0))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sents)
        - F.lit(84.6) * (n_syll / n_words)
    )
    return df.select(
        F.col("doc_id"),
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        F.round(score, 4).alias("flesch"),
        F.when(score >= 60.0, F.lit("easy"))
        .when(score >= 30.0, F.lit("medium"))
        .otherwise(F.lit("hard"))
        .alias("band"),
    )


_SCRIPTS = [
    # (output name, Java regex script class, RE2 class used by the oracle)
    ("latin", "IsLatin"),
    ("cyrillic", "IsCyrillic"),
    ("han", "IsHan"),
    ("arabic", "IsArabic"),
]


def script_profile(df: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Unicode-script character profile — the writing-system signal the
    n-gram ``langid`` can't give (langid's stopword vote only separates
    languages that SHARE a script; routing a multilingual crawl first
    needs to know the script at all).  Counts characters in the four
    highest-volume web scripts (Latin, Cyrillic, Han, Arabic) plus the
    remainder, and elects ``main_script`` by count with a fixed
    tie-break order — deterministic across engines.

    All counting is length(text) − length(regexp_replace(text,
    '[\\p{Script}]', '')) in whole-stage codegen: Java's ``IsLatin``
    and RE2/DuckDB's ``Latin`` classes resolve to the same Unicode
    script property, verified value-identical on mixed-script fixtures.
    One projected scan, no shuffle."""
    text = F.col("text")
    n = F.length(text)
    counts = {
        name: (
            n - F.length(F.regexp_replace(text, "[\\p{" + cls + "}]", ""))
        ).cast("long")
        for name, cls in _SCRIPTS
    }
    lat, cyr, han, ar = (counts[k] for k, _ in _SCRIPTS)
    main = (
        F.when((lat >= cyr) & (lat >= han) & (lat >= ar) & (lat > 0), "latin")
        .when((cyr >= han) & (cyr >= ar) & (cyr > 0), "cyrillic")
        .when((han >= ar) & (han > 0), "han")
        .when(ar > 0, "arabic")
        .otherwise("other")
    )
    return df.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        n.cast("long").alias("n_chars"),
        counts["latin"].alias("latin"),
        counts["cyrillic"].alias("cyrillic"),
        counts["han"].alias("han"),
        counts["arabic"].alias("arabic"),
        (n - lat - cyr - han - ar).cast("long").alias("other"),
        main.alias("main_script"),
    )


def length_distribution(df: DataFrame, approx: bool = False) -> DataFrame:
    """Sequence-length distribution per corpus stratum — the sizing
    report every training-data mix decision starts from (context-window
    fit, packing efficiency, per-source token budgets).

    Per (lang, source): doc count, exact token-count deciles
    p10/p50/p90 (Spark ``percentile`` == DuckDB ``quantile_cont``,
    type-7 linear interpolation — the same engine-equality the
    adaptive-delay p50 pinned), mean tokens (exact integer sum, one
    division), and the stratum's total token count.

    Exact percentiles hold all group values — fine for the bounded
    stratum count here, but at 100 TB pass ``approx=True`` to switch to
    ``approx_percentile`` (t-digest sketch, mergeable map-side, default
    accuracy 1/10000) — the same explicit exact/approx seam as the HLL
    token counters; the oracle pins the exact path.

    One scan: token counts are codegen; the groupBy shuffles one
    ``(lang, source, n)`` row per doc.
    """
    toks = tokens(F.col("text"))
    staged = df.select(
        "lang", "source", F.size(toks).cast("long").alias("n")
    )
    if approx:
        pct = F.approx_percentile(
            F.col("n"), F.array(F.lit(0.1), F.lit(0.5), F.lit(0.9))
        )
    else:
        pct = F.percentile(
            F.col("n"), F.array(F.lit(0.1), F.lit(0.5), F.lit(0.9))
        )
    agg = staged.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        pct.alias("_p"),
    )
    p = lambda i: F.col("_p").getItem(i).cast("double")
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        F.round(p(0), 4).alias("p10_tokens"),
        F.round(p(1), 4).alias("p50_tokens"),
        F.round(p(2), 4).alias("p90_tokens"),
        F.round(
            F.col("total_tokens").cast("double")
            / F.col("n_docs").cast("double"),
            4,
        ).alias("mean_tokens"),
    )


def zipf_fit(df: DataFrame) -> DataFrame:
    """Corpus-level Zipf audit: least-squares slope of
    ``ln(frequency) ~ ln(rank)`` over the top-200 vocabulary.

    Natural webtext follows Zipf's law with slope ≈ -1; a corpus slice
    whose slope collapses toward 0 (flat — machine-generated keyword
    stuffing) or dives far below -1 (a few tokens dominating —
    boilerplate/template floods) fails the composition sniff even when
    every individual document passes quality_scores.  This is the
    corpus-shape complement to the per-doc Gopher filters
    (textops/clean.py), and standard data-card material for an LLM
    training mix.

    Shape: ONE map-side-combined groupBy on the token (the only wide
    stage — same key as top_tokens), a full-vocab single aggregate for
    the type/token totals, and a TakeOrdered top-200 (never a
    global sort materialization) whose rank window runs over ≤ 200
    rows on one partition.  Ties rank deterministically
    (count DESC, token ASC) so the DuckDB oracle reproduces the exact
    regression inputs.

    Returns ONE row: ``(n_types, n_tokens, ttr, zipf_slope, zipf_r2)``
    — type-token ratio and the fit rounded to 4 dp (the module's
    cross-engine float contract).
    """
    counts = (
        df.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_tokens"),
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(200)
    ranked = top.select(
        F.col("n"),
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("token").asc()))
        .alias("rank"),
    )
    fit = ranked.agg(
        F.round(F.regr_slope(F.log("n"), F.log("rank")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("n"), F.log("rank")), 4).alias("zipf_r2"),
    )
    return totals.crossJoin(fit).select(
        "n_types",
        "n_tokens",
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        "zipf_slope",
        "zipf_r2",
    )


#: Expected dominant Unicode script per ISO language code — the pairs a
#: web corpus actually carries in volume; langs absent here get verdict
#: 'no_expectation' (extend the map, don't guess).
LANG_SCRIPT_EXPECTATIONS = {
    "en": "latin", "de": "latin", "fr": "latin", "es": "latin",
    "it": "latin", "pt": "latin", "nl": "latin", "pl": "latin",
    "tr": "latin", "vi": "latin", "id": "latin",
    "ru": "cyrillic", "uk": "cyrillic", "bg": "cyrillic", "sr": "cyrillic",
    "zh": "han", "ja": "han",
    "ar": "arabic", "fa": "arabic", "ur": "arabic",
}


def lang_script_check(df: DataFrame) -> DataFrame:
    """Declared-language vs dominant-script consistency check — the
    cheapest high-precision mislabel detector in a cleaning stack: a
    page tagged ``zh`` whose characters are overwhelmingly Latin is
    either mislabeled, mojibake'd, or boilerplate-in-disguise, and
    every downstream per-language decision (sampling temperature,
    quality thresholds, fertility pricing) inherits the error.
    Script counting is pure codegen (:func:`script_profile`); the
    expectation map is a Python-side constant folded into a CASE —
    no join, no Python at runtime, one projected scan.

    Returns ``(id, lang, main_script, expected_script, verdict)`` with
    verdict ∈ {ok, mismatch, no_expectation}.
    """
    base = df.select(
        F.col("doc_id"), F.col("lang"), F.col("text")
    )
    prof = script_profile(base, keep_cols=("lang",))
    expected = F.lit(None).cast("string")
    for code, script in sorted(LANG_SCRIPT_EXPECTATIONS.items()):
        expected = F.when(F.col("lang") == code, F.lit(script)).otherwise(
            expected
        )
    return prof.select(
        "doc_id",
        "lang",
        "main_script",
        expected.alias("expected_script"),
        F.when(expected.isNull(), F.lit("no_expectation"))
        .when(expected == F.col("main_script"), F.lit("ok"))
        .otherwise(F.lit("mismatch"))
        .alias("verdict"),
    )


def host_yield(pages: DataFrame) -> DataFrame:
    """Crawl economics per host: tokens of USABLE text produced per
    megabyte of HTML fetched.  Two hosts with identical page counts
    can differ 100× in yield (markup-heavy template sites vs article
    pages); at a fixed fetch budget, yield is the ranking that
    maximizes tokens per dollar — the budget feed's quality-per-cost
    complement to trap scores (cost side) and quality filters
    (value side).

    One map-side-combined groupBy(host): byte counts (octet_length)
    and token counts (whitespace contract) are codegen; ratios at
    emission.  Returns ``(host, n_pages, fetched_bytes, n_tokens,
    tokens_per_mb, text_ratio)`` — text_ratio = text bytes / html
    bytes, both rounded to 4 dp.
    """
    from .exprs import tokens

    html_b = F.octet_length(F.col("html"))
    text_b = F.octet_length(F.col("text"))
    per = pages.groupBy(F.col("host")).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(html_b).cast("long").alias("fetched_bytes"),
        F.sum(text_b).cast("long").alias("_text_bytes"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens"),
    )
    return per.select(
        "host",
        "n_pages",
        "fetched_bytes",
        "n_tokens",
        F.round(
            F.col("n_tokens") * 1048576.0 / F.col("fetched_bytes"), 4
        ).alias("tokens_per_mb"),
        F.round(F.col("_text_bytes") / F.col("fetched_bytes").cast("double"), 4).alias(
            "text_ratio"
        ),
    )


def stopword_candidates(df: DataFrame) -> DataFrame:
    """Empirical per-language stopword discovery: tokens present in at
    least half of a language's documents, ranked by
    document frequency.  Hand-curated stopword lists don't exist for
    most of the web's languages and drift for the rest; the df-ratio
    definition is what langid votes and quality ratios actually want
    — "the words this corpus's language uses everywhere".

    Shape: distinct (lang, token, doc) → ONE map-side-combined
    groupBy(lang, token) df count + a tiny per-lang doc-count
    broadcast; the rank window runs over the already-thresholded
    head (≤ vocabulary passing 50% df — dozens of rows per language).

    Returns ``(lang, token, df, df_ratio, rank)`` — top 20 per
    language, ties by token asc; ratio rounded to 4 dp.
    """
    from .exprs import tokens

    post = (
        df.select(
            F.col("lang"),
            F.col("doc_id"),
            F.explode(tokens(F.col("text"))).alias("token"),
        )
        .distinct()
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ndocs = df.groupBy(F.col("lang")).agg(
        F.countDistinct("doc_id").alias("_n")
    )
    ranked = (
        post.join(F.broadcast(ndocs), "lang")
        .filter(F.col("df") >= F.col("_n") * 0.5)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("df").desc(), F.col("token").asc()
                )
            ),
        )
        .filter(F.col("rank") <= 20)
    )
    return ranked.select(
        "lang",
        "token",
        "df",
        F.round(F.col("df") / F.col("_n"), 4).alias("df_ratio"),
        "rank",
    )
