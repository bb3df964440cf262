"""Corpus-assembly layer (textops/mix.py, frontier/budget.py):
decontamination, reproducible sampling, sequence packing, unigram-LM
scoring, crawl-budget allocation — hand-computed micro-fixtures plus
the invariants each operator's contract promises."""

import hashlib

import pytest
from pyspark.sql import functions as F

from uniparser_spark.frontier.budget import allocate_budget
from uniparser_spark.textops.mix import (
    decontaminate,
    eval_ngrams,
    hex_bucket,
    pack_sequences,
    stratified_sample,
    unigram_scores,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------- decontaminate
def test_decontaminate_counts_overlapping_grams(spark):
    ev = _docs(spark, [(0, "a b c d e")])  # grams: 'a b c d', 'b c d e'
    docs = _docs(
        spark,
        [
            (1, "a b c d x"),       # grams {'a b c d','b c d x'} -> 1 hit
            (2, "a b c d e"),       # exact mirror -> 2/2 hits
            (3, "x y z w v"),       # no overlap
            (4, "a b c"),           # < n tokens: no grams, dropped
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in decontaminate(docs, eval_ngrams(ev)).collect()
    }
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_grams"], got[1]["n_hit"], got[1]["contaminated"]) == (2, 1, 1)
    assert got[1]["contamination"] == 0.5
    assert (got[2]["n_hit"], got[2]["contamination"], got[2]["contaminated"]) == (2, 1.0, 1)
    assert (got[3]["n_hit"], got[3]["contaminated"]) == (0, 0)


def test_decontaminate_counts_distinct_grams_once(spark):
    ev = _docs(spark, [(0, "a a a a a")])  # one distinct gram 'a a a a'
    docs = _docs(spark, [(1, "a a a a a a a a")])  # 5 positions, 1 distinct
    row = decontaminate(docs, eval_ngrams(ev)).collect()[0]
    assert (row["n_grams"], row["n_hit"]) == (1, 1)


# ------------------------------------------------------- stratified_sample
def test_hex_bucket_matches_md5(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), hex_bucket(F.col("id"), "sample").alias("b")
    )
    for r in df.collect():
        want = int(hashlib.md5(f"sample:{r['doc_id']}".encode()).hexdigest()[:2], 16)
        assert r["b"] == want


def test_stratified_sample_gate_and_default(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(400)],
        "doc_id long, lang string",
    )
    out = stratified_sample(df, rates={"en": 128}, default_rate=0).collect()
    # zh has no rate -> default 0 -> nothing survives
    assert all(r["stratum"] == "en" for r in out)
    for r in out:
        b = int(hashlib.md5(f"sample:{r['doc_id']}".encode()).hexdigest()[:2], 16)
        assert r["bucket"] == b < 128
    # exact kept set is reproducible: a second run returns identical rows
    again = stratified_sample(df, rates={"en": 128}, default_rate=0).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in again)


def test_stratified_sample_rate_256_keeps_all(spark):
    df = spark.createDataFrame(
        [(i, "en") for i in range(50)], "doc_id long, lang string"
    )
    assert stratified_sample(df, rates={"en": 256}).count() == 50


# ----------------------------------------------------------- pack_sequences
def test_pack_sequences_running_layout(spark):
    # one bucket, seq_len 10: docs of 4, 7, 12 tokens at offsets 0, 4, 11
    docs = _docs(
        spark,
        [
            (0, " ".join(["t"] * 4)),
            (8, " ".join(["t"] * 7)),
            (16, " ".join(["t"] * 12)),
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in pack_sequences(docs, seq_len=10, n_buckets=8).collect()
    }
    assert all(r["bucket"] == 0 for r in got.values())
    assert (got[0]["tok_offset"], got[0]["seq_first"], got[0]["seq_last"]) == (0, 0, 0)
    # doc 8: tokens 4..10 -> spans sequences 0 and 1
    assert (got[8]["tok_offset"], got[8]["seq_first"], got[8]["seq_last"]) == (4, 0, 1)
    # doc 16: tokens 11..22 -> sequences 1 and 2
    assert (got[16]["tok_offset"], got[16]["seq_first"], got[16]["seq_last"]) == (11, 1, 2)


def test_pack_sequences_buckets_independent(spark):
    docs = _docs(spark, [(i, "a b c") for i in range(16)])
    rows = pack_sequences(docs, seq_len=128, n_buckets=4).collect()
    # 4 docs per bucket, each 3 tokens: offsets 0,3,6,9 within every bucket
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r["tok_offset"])
    assert set(by_bucket) == {0, 1, 2, 3}
    for offs in by_bucket.values():
        assert sorted(offs) == [0, 3, 6, 9]


# ----------------------------------------------------------- unigram_scores
def test_unigram_scores_vocab_cut_and_mass(spark):
    # counts: a=4, b=2, c=1, d=1 -> vocab_size=2 keeps {a, b}; total=8
    docs = _docs(spark, [(1, "a a b c"), (2, "a a b d")])
    got = {
        r["doc_id"]: r.asDict()
        for r in unigram_scores(docs, vocab_size=2).collect()
    }
    # doc 1: mass = 4+4+2+0 = 10, n=4 -> avg_p = 10/(4*8) = 0.3125
    assert got[1]["n_oov"] == 1 and got[1]["oov_frac"] == 0.25
    assert got[1]["avg_tok_prob"] == pytest.approx(0.3125)
    assert got[2]["avg_tok_prob"] == pytest.approx(0.3125)


def test_unigram_scores_deterministic_tie_break(spark):
    # b and c tie at 2; (cnt desc, tok asc) must keep b
    docs = _docs(spark, [(1, "a a a b b c c")])
    row = unigram_scores(docs, vocab_size=2).collect()[0]
    # vocab {a:3, b:2}; mass = 9 + 4 + 0 = 13; avg = 13/(7*7)
    assert row["n_oov"] == 2
    assert row["avg_tok_prob"] == pytest.approx(round(13 / 49, 10))


# ----------------------------------------------------------- allocate_budget
def test_allocate_budget_proportional_with_floor(spark):
    log = spark.createDataFrame(
        [("good", 9), ("good", 9), ("bad", 0), ("bad", 0), ("new", 2)],
        "host string, q int",
    )
    got = {
        r["host"]: r.asDict()
        for r in allocate_budget(log, total_budget=1000, smooth=8).collect()
    }
    # totals: tq=20, nh=3 -> denom = 20 + 24 = 44
    assert got["good"]["alloc"] == (1000 * (18 + 8)) // 44  # 590
    assert got["bad"]["alloc"] == (1000 * (0 + 8)) // 44    # 181
    assert got["new"]["alloc"] == (1000 * (2 + 8)) // 44    # 227
    # exploration floor: the zero-reward host still gets budget
    assert got["bad"]["alloc"] > 0
    # never over-allocates
    assert sum(r["alloc"] for r in got.values()) <= 1000
    assert got["good"]["share"] == pytest.approx(round(26 / 44, 6))


def test_allocate_budget_total_is_respected_under_skew(spark):
    log = spark.createDataFrame(
        [(f"h{i % 5}", i % 10) for i in range(1000)], "host string, q int"
    )
    rows = allocate_budget(log, total_budget=777, smooth=1).collect()
    assert sum(r["alloc"] for r in rows) <= 777
    assert all(r["alloc"] >= 0 for r in rows)


# ----------------------------------------------------------- dup_spans
def test_dup_spans_flags_shared_and_internal_repeats(spark):
    from uniparser_spark.textops.dedup import dup_spans

    w = lambda *xs: " ".join(xs)
    blockA = w(*[f"a{i}" for i in range(4)])   # 4 tokens
    blockB = w(*[f"b{i}" for i in range(4)])
    blockC = w(*[f"c{i}" for i in range(4)])
    docs = _docs(
        spark,
        [
            (1, w(blockA, blockB)),        # chunks: A, B
            (2, w(blockA, blockC)),        # chunk A shared with doc 1
            (3, w(blockC, blockC)),        # within-doc repeat (C also in doc 2)
            (4, "short text"),             # < k tokens: no chunks
        ],
    )
    rows = dup_spans(docs, k=4).collect()
    got = {(r["doc_id"], r["chunk_idx"]): r for r in rows}
    # A occurs twice (docs 1, 2); B once (unflagged); C three times (2, 3, 3)
    assert set(got) == {(1, 0), (2, 0), (2, 1), (3, 0), (3, 1)}
    assert got[(1, 0)]["n_copies"] == 2 and got[(2, 0)]["n_copies"] == 2
    assert got[(2, 1)]["n_copies"] == 3 and got[(3, 1)]["n_copies"] == 3
    assert got[(3, 1)]["start_tok"] == 4


def test_dup_spans_disjoint_chunking_ignores_unaligned(spark):
    from uniparser_spark.textops.dedup import dup_spans

    # same 4 tokens but offset by one in doc 2 -> different aligned chunks
    docs = _docs(spark, [(1, "a b c d"), (2, "x a b c d x y z")])
    assert dup_spans(docs, k=4).count() == 0


def test_sample_gate_commutes_with_stratified_sample(spark):
    from uniparser_spark.textops.mix import sample_gate

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(300)],
        "doc_id long, lang string",
    )
    rates = {"en": 100, "de": 200}
    via_op = {r["doc_id"] for r in stratified_sample(df, rates).collect()}
    via_gate = {
        r["doc_id"] for r in df.filter(sample_gate(rates)).collect()
    }
    assert via_op == via_gate


# ------------------------------------------------------------ property fuzz
def test_fuzz_blocklist_matches_python_reference(spark):
    """Random hosts × random rule sets vs a pure-Python label-suffix
    reference: blocked flag and longest-match audit column agree."""
    from hypothesis import given, settings, strategies as st

    from uniparser_spark.frontier.blocklist import apply_blocklist

    label = st.sampled_from(["a", "b", "ab", "tracker", "nottracker", "x1"])
    host = st.lists(label, min_size=1, max_size=4).map(".".join)
    cases = []

    @settings(max_examples=120, deadline=None)
    @given(host)
    def gen(h):
        cases.append(h)

    gen()
    hosts = sorted(set(cases))
    rules = ["tracker", "a.b", "b", "x1.tracker"]

    def py_ref(h):
        parts = h.split(".")
        sufs = [".".join(parts[i:]) for i in range(len(parts))]
        hits = [s for s in sufs if s in rules]
        if not hits:
            return (0, None)
        return (1, max(hits, key=lambda s: (len(s), s)))

    urls = spark.createDataFrame(
        [(f"https://{h}/", h) for h in hosts], "url string, host string"
    )
    rdf = spark.createDataFrame([(r,) for r in rules], "domain string")
    got = {
        r["host"]: (r["blocked"], r["matched"])
        for r in apply_blocklist(urls, rdf).collect()
    }
    for h in hosts:
        assert got[h] == py_ref(h), h


def test_fuzz_pack_sequences_matches_python_reference(spark):
    """Random token counts: offsets are exact prefix sums in doc_id
    order within each bucket, and seq spans follow from them."""
    from hypothesis import given, settings, strategies as st

    from uniparser_spark.textops.mix import pack_sequences

    pairs = []

    @settings(max_examples=80, deadline=None)
    @given(st.integers(min_value=0, max_value=5000), st.integers(min_value=1, max_value=40))
    def gen(doc_id, n_tok):
        pairs.append((doc_id, n_tok))

    gen()
    seen = {}
    for i, n in pairs:
        seen.setdefault(i, n)
    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * n)) for i, n in seen.items()],
        "doc_id long, text string",
    )
    seq_len, n_buckets = 32, 4
    rows = pack_sequences(docs, seq_len=seq_len, n_buckets=n_buckets).collect()

    # python reference
    offsets = {}
    for b in range(n_buckets):
        acc = 0
        for i in sorted(k for k in seen if k % n_buckets == b):
            offsets[i] = acc
            acc += seen[i]
    for r in rows:
        i = r["doc_id"]
        assert r["tok_offset"] == offsets[i], i
        assert r["seq_first"] == offsets[i] // seq_len
        assert r["seq_last"] == (offsets[i] + seen[i] - 1) // seq_len
    assert len(rows) == len(seen)


def test_budget_feedback_closes_the_scheduler_loop(spark):
    """allocate_budget output plugs straight into schedule_batch as the
    per-host budgets table: a host with better fetch history gets more
    of the next round scheduled, zero-reward hosts keep the exploration
    floor — the explore/exploit loop closed end-to-end."""
    from pyspark.sql import functions as F

    from uniparser_spark.frontier.politeness import schedule_batch

    log = spark.createDataFrame(
        [("good.org", 9)] * 20 + [("bad.org", 0)] * 20,
        "host string, q int",
    )
    budgets = allocate_budget(log, total_budget=100, smooth=2).select(
        "host", F.col("alloc").cast("int").alias("budget")
    )
    alloc = {r["host"]: r["budget"] for r in budgets.collect()}
    # good: floor(100*182/188)=96; bad: floor(100*2/188)=1 (floor > 0)
    assert alloc["good.org"] > alloc["bad.org"] >= 1

    pending = spark.createDataFrame(
        [
            (f"https://{h}/p{i}", h, 0.0, 0, None, i, 0)
            for h in ("good.org", "bad.org")
            for i in range(200)
        ],
        "url_canon string, host string, priority double, depth int, "
        "parent_url string, list_index int, discovered_round int",
    )
    decided = schedule_batch(pending, budgets=budgets, default_budget=50)
    per_host = {
        r["host"]: r["n"]
        for r in decided.filter("scheduled").groupBy("host").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert per_host == {"good.org": alloc["good.org"], "bad.org": alloc["bad.org"]}


# ----------------------------------------------------------------- epoch_mix
def test_epoch_mix_hits_target_within_sampling_error(spark):
    from uniparser_spark.textops.mix import epoch_mix

    df = spark.createDataFrame(
        [(i, "en" if i < 300 else "code") for i in range(400)],
        "doc_id long, lang string",
    )
    # weights 1:3 over N=400 -> targets en 100, code 300
    # f_en = 100/300 (Bernoulli per doc), f_code = 300/100 = 3.0 exactly
    rows = epoch_mix(df, weights={"en": 1, "code": 3}).collect()
    tot = {}
    for r in rows:
        tot[r["stratum"]] = tot.get(r["stratum"], 0) + r["n_copies"]
    assert tot["code"] == 300  # exact integer factor: every doc 3 copies
    # fractional factor is a per-doc hash-Bernoulli: within ~4 sigma
    # (sigma = sqrt(300 * (85/256) * (171/256)) ~ 8.2) of the
    # /256-quantized expectation 300*85/256 ~ 99.6
    assert abs(tot["en"] - 100) <= 33
    per_doc = {r["doc_id"]: r["n_copies"] for r in rows}
    assert all(per_doc[i] == 3 for i in range(300, 400))
    assert all(per_doc[i] in (0, 1) for i in range(300))


def test_epoch_mix_zero_weight_stratum_gets_zero_copies(spark):
    from uniparser_spark.textops.mix import epoch_mix

    df = spark.createDataFrame(
        [(1, "en"), (2, "zh"), (3, "en"), (4, "en")], "doc_id long, lang string"
    )
    got = {r["doc_id"]: r["n_copies"] for r in epoch_mix(df, weights={"en": 1}).collect()}
    assert got[2] == 0
    # en: f = 4*1/(1*3) = 1.333 -> each doc 1 or 2 copies
    assert all(got[i] in (1, 2) for i in (1, 3, 4))


def test_epoch_mix_is_deterministic(spark):
    from uniparser_spark.textops.mix import epoch_mix

    df = spark.createDataFrame(
        [(i, "en") for i in range(100)], "doc_id long, lang string"
    )
    a = sorted((r["doc_id"], r["n_copies"]) for r in epoch_mix(df, weights={"en": 3}).collect())
    b = sorted((r["doc_id"], r["n_copies"]) for r in epoch_mix(df, weights={"en": 3}).collect())
    assert a == b


def test_strip_dup_spans_keep_first_and_tail(spark):
    from uniparser_spark.textops.dedup import strip_dup_spans

    blockA = "a0 a1 a2 a3"
    blockB = "b0 b1 b2 b3"
    docs = _docs(
        spark,
        [
            (1, f"{blockA} {blockB} t1 t2"),   # chunks A,B + tail "t1 t2"
            (2, f"{blockA} c0 c1 c2 c3"),      # A dup (2nd occurrence) + C
            (3, "tiny tail"),                  # no chunks, tail only
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in strip_dup_spans(docs, k=4).collect()}
    # doc 1 owns the first occurrence of A: nothing dropped
    assert (got[1]["n_chunks"], got[1]["n_dropped"]) == (2, 0)
    assert got[1]["clean_text"] == f"{blockA} {blockB} t1 t2"
    # doc 2's copy of A is the duplicate: dropped, C + no tail kept
    assert (got[2]["n_chunks"], got[2]["n_dropped"]) == (2, 1)
    assert got[2]["clean_text"] == "c0 c1 c2 c3"
    # chunkless doc passes through as its tail
    assert (got[3]["n_chunks"], got[3]["n_dropped"], got[3]["clean_text"]) == (
        0, 0, "tiny tail",
    )


def test_strip_dup_spans_remove_all_occurrences(spark):
    from uniparser_spark.textops.dedup import strip_dup_spans

    blockA = "a0 a1 a2 a3"
    docs = _docs(spark, [(1, blockA), (2, f"{blockA} z")])
    got = {
        r["doc_id"]: r.asDict()
        for r in strip_dup_spans(docs, k=4, keep_first=False).collect()
    }
    assert got[1]["clean_text"] == ""
    assert got[2]["clean_text"] == "z"
    assert got[1]["n_dropped"] == 1 and got[2]["n_dropped"] == 1


def test_chunk_text_window_layout(spark):
    from uniparser_spark.textops.mix import chunk_text

    docs = spark.createDataFrame(
        [
            (1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 tokens
            (2, "a b"),                             # shorter than a window
            (3, "   "),                             # blank: zero rows
        ],
        "doc_id long, text string",
    )
    out = chunk_text(docs, max_tokens=4, overlap=1)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    # stride 3: windows [0..3], [3..6], [6..9] — the tail reaches t9
    assert {k for k in rows} == {(1, 0), (1, 1), (1, 2), (2, 0)}
    assert rows[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[(1, 1)]["chunk_text"] == "t3 t4 t5 t6"
    assert rows[(1, 2)]["chunk_text"] == "t6 t7 t8 t9"
    assert all(rows[(1, i)]["n_tokens"] == 4 for i in range(3))
    # consecutive windows share exactly `overlap` tokens
    assert rows[(1, 0)]["chunk_text"].split()[-1:] == rows[(1, 1)]["chunk_text"].split()[:1]
    assert rows[(2, 0)]["chunk_text"] == "a b" and rows[(2, 0)]["n_tokens"] == 2

    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_text(docs, max_tokens=4, overlap=4)


def test_host_quota_sample_two_phase_exactness(spark):
    from pyspark.sql import functions as F

    from uniparser_spark.textops.mix import host_quota_sample

    # one host, 10 docs, quality = id; cap 2 with 2 salt buckets so the
    # pre-trim genuinely drops rows (each salt group keeps its top 2)
    docs = spark.createDataFrame(
        [(i, "h.org", i) for i in range(10)],
        "doc_id long, host string, n_tokens long",
    )
    out = {r["doc_id"]: r for r in host_quota_sample(docs, cap=2, salt_buckets=2).collect()}
    assert len(out) == 10  # every row comes back with a verdict
    # survivors of the pre-trim: {8,6} from even salt, {9,7} from odd;
    # exact ranks 9->1, 8->2, 7->3, 6->4; quota keeps the true top 2
    assert {d for d, r in out.items() if r["kept"] == 1} == {9, 8}
    assert out[9]["rk"] == 1 and out[8]["rk"] == 2
    assert out[7]["rk"] == 3 and out[6]["rk"] == 4
    # pre-trim victims: verdict rows with NULL rank
    for d in range(6):
        assert out[d]["kept"] == 0 and out[d]["rk"] is None

    # invariance: the kept SET equals the unsalted ground truth for a
    # spread of salt bucket counts
    truth = {9, 8}
    for sb in (1, 3, 16):
        got = {
            r["doc_id"]
            for r in host_quota_sample(docs, cap=2, salt_buckets=sb).collect()
            if r["kept"] == 1
        }
        assert got == truth, sb


def test_ngram_lm_counts_hand_case(spark):
    """KN count semantics, hand-computed: 'a b' appears 3x; w2='b' is
    preceded by {a, c} -> n_left_types=2; w1='a' is followed only by
    {b} -> n_right_types=1."""
    from uniparser_spark.textops.mix import ngram_lm_counts

    rows = [(1, "a b a b"), (2, "a b"), (3, "c b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in
           ngram_lm_counts(df, top_k=10).collect()}
    ab = out[("a", "b")]
    assert ab["cnt"] == 3 and ab["rank"] == 1
    assert ab["n_left_types"] == 2   # a and c precede b
    assert ab["n_right_types"] == 1  # a is followed only by b
    ba = out[("b", "a")]
    assert ba["cnt"] == 1 and ba["n_right_types"] == 1
    assert out[("c", "b")]["n_left_types"] == 2


def test_quality_buckets_terciles_per_lang(spark):
    """Bucketing is per-language and tercile-balanced: 9 docs per lang
    with strictly ordered scores -> 3 docs per bucket in each lang;
    a lang's tail can outscore another lang's head (the reason
    bucketing must be per-language)."""
    from pyspark.sql import functions as F

    from uniparser_spark.textops.mix import quality_buckets

    rows = []
    # lang A: docs made of frequent tokens (high prob); lang B: rarer mix
    for i in range(9):
        rows.append((i, " ".join(["common"] * (9 - i) + [f"rare{i}"] * i), "A"))
    for i in range(9):
        rows.append((100 + i, " ".join(["common"] * (9 - i) + [f"xr{i}"] * (i + 3)), "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = quality_buckets(df, vocab_size=4).collect()
    from collections import Counter
    per = Counter((r["lang"], r["bucket"]) for r in out)
    for lang in ("A", "B"):
        assert per[(lang, "head")] == 3, per
        assert per[(lang, "middle")] == 3, per
        assert per[(lang, "tail")] == 3, per
    # buckets follow score order within a language
    a = sorted((r["avg_tok_prob"], r["bucket"]) for r in out if r["lang"] == "A")
    order = [b for _, b in a]
    assert order == ["tail"] * 3 + ["middle"] * 3 + ["head"] * 3


def test_temperature_mix_flattens(spark):
    """α<1 flattens: the head stratum's q < p, the tail's q > p, order
    preserved, q sums to 1, and α=1 is the identity."""
    from uniparser_spark.textops.mix import temperature_mix

    rows = (
        [(i, "w " * 80, "big") for i in range(8)]
        + [(100 + i, "w " * 10, "small") for i in range(2)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["stratum"]: r for r in temperature_mix(df, alpha=0.3).collect()}
    big, small = out["big"], out["small"]
    assert big["p"] > small["p"]                 # mass order
    assert big["q"] < big["p"]                   # head flattened down
    assert small["q"] > small["p"]               # tail lifted
    assert big["q"] > small["q"]                 # order preserved
    assert abs(big["q"] + small["q"] - 1.0) < 1e-3
    assert small["multiplier"] > 1.0 > big["multiplier"]

    ident = {r["stratum"]: r for r in temperature_mix(df, alpha=1.0).collect()}
    for s in ("big", "small"):
        assert abs(ident[s]["q"] - ident[s]["p"]) < 1e-3
        assert abs(ident[s]["multiplier"] - 1.0) < 1e-3


def test_corpus_mix_report_shares(spark):
    """Per-(lang, bucket) rollup: 9 docs per lang -> 3 buckets x 3 docs
    each, and frac_tokens sums to 1 across the whole report."""
    from uniparser_spark.textops.mix import corpus_mix_report

    rows = []
    for i in range(9):
        rows.append((i, " ".join(["common"] * (9 - i) + [f"rare{i}"] * i), "A"))
    for i in range(9):
        rows.append((100 + i, " ".join(["common"] * (9 - i) + [f"xr{i}"] * (i + 3)), "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = corpus_mix_report(df, vocab_size=4).collect()
    assert len(out) == 6  # 2 langs x 3 buckets
    assert all(r["n_docs"] == 3 for r in out)
    assert abs(sum(r["frac_tokens"] for r in out) - 1.0) < 1e-2


# ---------------------------------------------------------- dsir_weights
def test_dsir_weights_ranks_target_like_docs_higher(spark):
    from uniparser_spark.textops.mix import dsir_weights

    # Target exemplars (doc_id % 5 == 0) speak "paris"; the raw pool
    # speaks "random".  A raw doc echoing the target vocabulary must
    # outweigh a raw doc speaking only raw vocabulary.
    docs = _docs(
        spark,
        [
            (0, "paris tower paris seine"),
            (5, "paris metro paris cafe"),
            (10, "paris river seine walk"),
            (1, "random words about nothing"),
            (2, "more random words here too"),
            (3, "paris metro paris cafe"),    # raw doc echoing exemplar 5
            (4, "random nothing words more"),  # raw doc, raw-like text
            (6, ""),                           # empty: row kept, 0 feats
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in dsir_weights(
            docs, target=(F.col("doc_id") % 5 == 0)
        ).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4, 5, 6, 10}
    assert got[0]["is_target"] == 1 and got[3]["is_target"] == 0
    # 4 tokens -> 4 unigrams + 3 bigrams
    assert got[3]["n_feats"] == 7
    assert got[6]["n_feats"] == 0 and got[6]["dsir_weight"] == 0.0
    assert got[6]["leans_target"] == 0
    # the exemplar-echo raw doc outweighs the raw-vocabulary doc; on a
    # micro-corpus the absolute sign is negative for everything (the
    # raw pool CONTAINS the exemplars, so r >= t per bucket and the
    # normalizer ln((R+dim)/(T+dim)) is ~0) — the contract is the
    # ORDERING, which is what resampling consumes
    assert got[3]["dsir_weight"] > got[4]["dsir_weight"]
    assert got[4]["leans_target"] == 0
    # exact pinned values from an offline replica of the md5/quantize
    # chain (see the module docstring's determinism argument)
    assert got[3]["llr_q"] == -2551869
    assert got[4]["llr_q"] == -6998433
    # weight is the quantized integer sum scaled down
    assert got[3]["dsir_weight"] == round(got[3]["llr_q"] / 1e6, 4)


def test_dsir_weights_partition_invariant(spark):
    from uniparser_spark.textops.mix import dsir_weights

    docs = _docs(
        spark,
        [(i, f"tok{i % 7} tok{i % 3} tok{i % 11} shared words") for i in range(40)],
    )
    t = F.col("doc_id") % 5 == 0
    a = {
        r["doc_id"]: r["llr_q"]
        for r in dsir_weights(docs.coalesce(1), target=t).collect()
    }
    b = {
        r["doc_id"]: r["llr_q"]
        for r in dsir_weights(docs.repartition(13), target=t).collect()
    }
    assert a == b  # integer micro-nat sums: no float-order hazard


# --------------------------------------------------------- training_order
def test_training_order_reproducible_and_complete(spark):
    from uniparser_spark.textops.mix import training_order

    docs = spark.range(200).withColumnRenamed("id", "doc_id")
    a = training_order(docs, n_shards=4).collect()
    b = training_order(docs.repartition(7), n_shards=4).collect()
    # same assignment under any partitioning
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every doc exactly once; within a shard pos is 1..n dense and
    # ordered by order_key
    assert len(a) == 200 and len({r["doc_id"] for r in a}) == 200
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [r["order_key"] for r in rows]
        assert keys == sorted(keys)
    # a different salt is a genuinely different permutation
    c = training_order(docs, n_shards=4, salt="epoch2").collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in c} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in a
    }


def test_leakage_split_clusters_never_straddle(spark):
    """Duplicate texts inherit ONE split drawn from the cluster id
    (min doc id); ratios must be 3 percents summing to 100."""
    import pytest

    from uniparser_spark.textops.mix import leakage_split

    rows = [(i, f"unique text {i}") for i in range(20)] + [
        (100, "same text"), (101, "same text"), (102, "same text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in leakage_split(docs).collect()}
    assert len(out) == 23
    dup = [out[i] for i in (100, 101, 102)]
    assert {d["cluster_id"] for d in dup} == {100}
    assert len({d["split"] for d in dup}) == 1
    assert len({d["bucket"] for d in dup}) == 1
    for r in out.values():
        assert 0 <= r["bucket"] < 100
        assert (r["bucket"] < 80) == (r["split"] == "train")
        assert (80 <= r["bucket"] < 90) == (r["split"] == "val")
    with pytest.raises(ValueError):
        leakage_split(docs, ratios=(70, 20, 20))


def test_lang_fertility_ratios_and_empty(spark):
    from uniparser_spark.textops.mix import lang_fertility

    rows = [
        ("en", "ab cd"),        # 2 tokens, 5 chars, 5 bytes
        ("en", "xyz"),          # 1 token, 3 chars
        ("zh", "中文"), # 1 token, 2 chars, 6 utf-8 bytes
        ("empty", ""),          # trim -> split('') = [''] -> 1 token, 0 chars
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = {r["lang"]: r for r in lang_fertility(df).collect()}
    en = got["en"]
    assert (en["n_docs"], en["n_tokens"], en["n_chars"], en["n_bytes"]) == (2, 3, 8, 8)
    assert (en["chars_per_token"], en["bytes_per_token"]) == (2.6667, 2.6667)
    zh = got["zh"]
    assert (zh["n_chars"], zh["n_bytes"]) == (2, 6)
    assert zh["bytes_per_token"] == 6.0


def test_pmi_collocations_hand_values(spark):
    """'new york' always adjacent -> high PMI; independent filler pair
    scores ~0; min_count gates rare pairs."""
    import math

    from uniparser_spark.textops.mix import pmi_collocations

    docs = spark.createDataFrame(
        [(i, "new york " + ("a b " * 5).strip()) for i in range(6)],
        "doc_id long, text string",
    )
    got = {(r["w1"], r["w2"]): r for r in pmi_collocations(docs, top_k=10).collect()}
    # per doc: tokens = [new, york, a, b, a, b, ...] (12 tokens, 11 bigrams)
    # c(new,york)=6, N_big=66, c(new)=c(york)=6, N_uni=72
    expect = math.log((6 / 66) / ((6 / 72) * (6 / 72)))
    assert abs(got[("new", "york")]["pmi"] - round(expect, 4)) < 1e-9
    # (a,b) occurs 5x/doc=30, c(a)=c(b)=30: pmi = ln((30/66)/(30/72 * 30/72))
    expect_ab = math.log((30 / 66) / ((30 / 72) ** 2))
    assert abs(got[("a", "b")]["pmi"] - round(expect_ab, 4)) < 1e-9
    assert got[("a", "b")]["pmi"] < got[("new", "york")]["pmi"]
    # (york, a) occurs 6x -> present; (b, a) occurs 4x/doc=24 -> present
    assert ("york", "a") in got and ("b", "a") in got
