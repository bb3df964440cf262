"""Training-data operator tests: dedup, similarity, quality, multimodal.

Small, deterministic inputs with independently computed expected values
(hashlib/math in plain Python) — the same invariants the DuckDB oracle
checks at sf scale.
"""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from uniparser_spark.textops import (
    cosine_topk,
    doc_fingerprints,
    exact_dup_groups,
    langid,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_scores,
    rhp_lsh_topk,
    simhash_groups,
    token_stats,
    with_simhash,
)
from uniparser_spark.textops.multimodal import decode_media, docs_as_media


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again today"


def test_exact_dup_groups(spark):
    df = docs_df(
        spark,
        [(0, BASE), (1, "  THE quick   brown fox jumps over the lazy dog again and again today "), (2, "something else entirely")],
    )
    groups = {r["content_fp"]: r for r in exact_dup_groups(df).collect()}
    assert len(groups) == 2
    dup = [g for g in groups.values() if g["n_docs"] == 2]
    assert len(dup) == 1 and dup[0]["keep_id"] == 0
    # fingerprint matches plain-python md5 of the normalized text
    norm = " ".join(BASE.split())
    assert hashlib.md5(norm.encode()).hexdigest()[:16] in groups


def test_minhash_impls_agree(spark):
    df = docs_df(spark, [(0, BASE), (1, BASE + " with a small suffix change"), (2, "unrelated words entirely different from anything")])
    a = {r["doc_id"]: r["sig"] for r in minhash_signatures(df, impl="pandas").collect()}
    b = {r["doc_id"]: r["sig"] for r in minhash_signatures(df, impl="expr").collect()}
    assert a == b


def test_lsh_finds_near_dup(spark):
    near = BASE + " tail"
    far = "completely different vocabulary with no overlap whatsoever in any gram"
    df = docs_df(spark, [(0, BASE), (1, near), (2, far)])
    pairs = {(r["id1"], r["id2"]) for r in lsh_candidate_pairs(df).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_deterministic(spark):
    df = docs_df(spark, [(0, BASE), (1, BASE), (2, "other words here completely")])
    vals = {r["doc_id"]: r["simhash"] for r in with_simhash(df).collect()}
    assert vals[0] == vals[1]
    assert 0 <= vals[0] < 2**16
    groups = {r["simhash"]: r for r in simhash_groups(df).collect()}
    assert groups[vals[0]]["n_docs"] == 2 and groups[vals[0]]["keep_id"] == 0


def test_ngram_jaccard_value(spark):
    # doc0: bigrams {a b, b c, c d}; doc1: {a b, b c, c e} -> |∩|=2 |∪|=4
    df = docs_df(spark, [(0, "a b c d"), (1, "a b c e")])
    rows = ngram_jaccard_pairs(df, threshold=0.0, max_id=10).collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == pytest.approx(0.5)


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # farthest from 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = cosine_topk(emb, n_queries=1, k=3).collect()
    assert [r["vec_id"] for r in top] == [1, 2, 3]
    expected = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert top[0]["sim"] == pytest.approx(round(expected, 6), abs=1e-6)


def test_rhp_lsh_finds_identical(spark):
    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(1, 40)]
    rows.append((0, rows[5][1]))  # vec 0 duplicates vec 6
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = rhp_lsh_topk(emb, n_queries=1, k=3, n_planes=4, dims=8).collect()
    assert top and top[0]["vec_id"] == rows[5][0] and top[0]["sim"] == pytest.approx(1.0)


def test_token_stats_and_quality(spark):
    df = docs_df(spark, [(0, "the cat sat on the mat!")])
    ts = token_stats(df).collect()[0]
    assert ts["n_tokens"] == 6
    assert ts["n_distinct_tokens"] == 5
    assert ts["n_bpe_tokens"] == 7  # 6 words + '!'
    assert ts["avg_token_len"] == pytest.approx(round(18 / 6, 4))
    qs = quality_scores(df).collect()[0]
    assert qs["n_chars"] == 23
    assert qs["stopword_ratio"] == pytest.approx(round(2 / 6, 4))
    assert qs["punct_ratio"] == pytest.approx(round(1 / 23, 4))
    assert 0.0 <= qs["quality"] <= 1.0


def test_langid_votes(spark):
    df = docs_df(
        spark,
        [(0, "the cat and the dog in a house"), (1, "der hund und die katze ist nicht da"), (2, "zzz qqq www")],
    )
    out = {r["doc_id"]: r for r in langid(df).collect()}
    assert out[0]["pred_lang"] == "en"
    assert out[1]["pred_lang"] == "de"
    assert out[2]["pred_lang"] == "und"


def test_doc_fingerprints_match_python(spark):
    df = docs_df(spark, [(0, "Alpha  Beta gamma DELTA epsilon zeta")])
    row = doc_fingerprints(df).collect()[0]
    norm = "alpha beta gamma delta epsilon zeta"
    assert row["content_fp"] == hashlib.md5(norm.encode()).hexdigest()[:16]
    toks = norm.split()
    grams = [" ".join(toks[i : i + 4]) for i in range(len(toks) - 3)]
    assert row["min_gram_fp"] == min(
        hashlib.md5(g.encode()).hexdigest()[:16] for g in grams
    )


def test_multimodal_decode_stub(spark):
    docs = docs_df(spark, [(0, "first doc"), (1, "second doc"), (2, "third doc")])
    media = docs_as_media(docs)
    feats = {r["media_id"]: r for r in decode_media(media, mode="fake").collect()}
    assert set(feats) == {0, 1, 2}
    # media types cycle image/audio/video by id
    assert feats[0]["media_type"] == "image" and feats[2]["media_type"] == "video"
    digest = hashlib.md5(b"first doc").digest()
    assert feats[0]["n_bytes"] == len(b"first doc")
    assert feats[0]["content_hash"] == hashlib.md5(b"first doc").hexdigest()[:16]
    assert feats[0]["width"] == 64 + digest[0] % 192
    assert feats[0]["height"] == 64 + digest[1] % 192
    assert feats[0]["n_frames"] is None  # image has no frames
    assert feats[2]["n_frames"] == 1 + hashlib.md5(b"third doc").digest()[2] % 16
    # audio rows carry no dims
    assert feats[1]["width"] is None and feats[1]["height"] is None
    # the codec seam (pixel/sample decode) is explicit
    with pytest.raises(Exception):
        decode_media(media, mode="codec").collect()
    with pytest.raises(ValueError):
        decode_media(media, mode="nope")


def test_multimodal_header_decode(spark):
    """REAL stdlib container decode: synthesized valid
    PNG/GIF/JPEG/WAV/BMP/TIFF/MP3/FLAC/ICO round-trip their id-derived
    dims through the struct/zlib/wave parsers, and non-container
    payloads yield NULL dims (errors as data)."""
    from uniparser_spark.textops.multimodal import synth_media

    docs = docs_df(spark, [(i, f"doc {i}") for i in range(27)])
    media = synth_media(docs)
    feats = {r["media_id"]: r for r in decode_media(media, mode="header").collect()}
    assert set(feats) == set(range(27))
    for mid, r in feats.items():
        fmt = ("png", "gif", "jpeg", "wav", "bmp", "tiff", "mp3", "flac",
               "ico", "webp")[mid % 10]
        assert r["fmt"] == fmt
        if fmt in ("wav", "flac"):
            assert r["width"] is None and r["duration_ms"] == 1000 + mid % 1000
        elif fmt == "mp3":
            frames = 10 + mid % 20
            assert r["width"] is None and r["n_frames"] == frames
            assert r["duration_ms"] == frames * 1152 * 1000 // 44100
        else:
            assert r["width"] == 16 + mid % 240
            assert r["height"] == 16 + (7 * mid) % 240
        if fmt == "gif":
            assert r["n_frames"] == 1 + (mid // 4) % 4
    # text bytes are not a recognized container: NULLs, not a crash
    junk = decode_media(docs_as_media(docs), mode="header").collect()
    assert all(r["fmt"] is None and r["width"] is None for r in junk)


def test_media_header_parsers_edge_shapes():
    """Direct parser edge cases the synthesized corpus doesn't hit:
    top-down BMP (negative height), BITMAPCOREHEADER, big-endian TIFF,
    LONG-typed TIFF dims, ID3v2-prefixed MP3, truncated payloads."""
    import struct

    from uniparser_spark.textops.multimodal import (
        make_bmp,
        make_mp3,
        make_tiff,
        parse_media_header,
    )

    # top-down BMP: height stored negative, magnitude recovered
    b = bytearray(make_bmp(10, 7))
    b[22:26] = struct.pack("<i", -7)
    assert parse_media_header(bytes(b)) == {
        "fmt": "bmp", "width": 10, "height": 7, "n_frames": 1,
    }
    # big-endian TIFF with LONG dims
    ifd = struct.pack(">H", 2)
    ifd += struct.pack(">HHII", 256, 4, 1, 300)
    ifd += struct.pack(">HHII", 257, 4, 1, 200)
    ifd += struct.pack(">I", 0)
    mm = b"MM\x00*" + struct.pack(">I", 8) + ifd
    assert parse_media_header(mm) == {
        "fmt": "tiff", "width": 300, "height": 200, "n_frames": 1,
    }
    assert parse_media_header(make_tiff(5, 6))["fmt"] == "tiff"
    # ID3v2 prefix (syncsafe size) is skipped before the frame walk
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 1, 5]) + b"\x00" * (128 + 5)
    tagged = id3 + make_mp3(3)
    got = parse_media_header(tagged)
    assert got["fmt"] == "mp3" and got["n_frames"] == 3
    assert got["duration_ms"] == 3 * 1152 * 1000 // 44100
    # truncated / junk payloads parse to {} (errors as data upstream)
    assert parse_media_header(b"BM\x00") == {}
    assert parse_media_header(b"II*\x00\x08\x00\x00") == {}
    assert parse_media_header(b"\xff\xfb") == {}


def test_simhash_and_fingerprint_impls_agree(spark):
    df = docs_df(
        spark,
        [(0, BASE), (1, "Mixed CASE  words with   spacing"), (2, "tiny"), (3, "a b c d e f g h")],
    )
    sh_p = {r["doc_id"]: r["simhash"] for r in with_simhash(df, impl="pandas").collect()}
    sh_e = {r["doc_id"]: r["simhash"] for r in with_simhash(df, impl="expr").collect()}
    assert sh_p == sh_e
    fp_p = {r["doc_id"]: (r["content_fp"], r["min_gram_fp"]) for r in doc_fingerprints(df, impl="pandas").collect()}
    fp_e = {r["doc_id"]: (r["content_fp"], r["min_gram_fp"]) for r in doc_fingerprints(df, impl="expr").collect()}
    assert fp_p == fp_e


def test_split_tokens_twins_spark_tokens(spark):
    """split_tokens equals Spark's split(trim(text), '\\s+'): trim strips
    only U+0020 and \\s is ASCII, so a tab leads with an empty token
    and NBSP or U+2003 joins two words.  The pandas MinHash then counts
    the shingles the expression path counts."""
    from uniparser_spark.textops.exprs import split_tokens, tokens

    texts = [
        "\talpha beta gamma delta",
        "alpha\u00a0beta gamma delta",
        "alpha\u2003beta gamma",
        "a\x0bb c",
        "  x \t y  ",
        "",
        " ",
        "\t",
    ]
    df = docs_df(spark, list(enumerate(texts)))
    got = {
        r["doc_id"]: list(r["t"])
        for r in df.select("doc_id", tokens(F.col("text")).alias("t")).collect()
    }
    assert got == {i: split_tokens(t) for i, t in enumerate(texts)}

    found = docs_df(spark, list(enumerate(texts[:2])))
    n_shingles = {
        impl: {r["doc_id"]: r["n_shingles"] for r in minhash_signatures(found, **kw).collect()}
        for impl, kw in (("expr", {"impl": "expr"}), ("default", {}))
    }
    assert n_shingles["default"] == n_shingles["expr"] == {0: 3, 1: 1}


def test_blank_and_null_text_kernels_match_expr(spark):
    """On blank and NULL text each pandas kernel emits what its
    impl='expr' twin emits: a blank text is one empty token (so 1-grams
    see the empty shingle), a NULL text has none."""
    from uniparser_spark.textops import containment_pairs

    df = docs_df(spark, [(0, ""), (1, " "), (2, None), (3, "\t"), (4, "word")])

    def rows(out):
        return sorted(map(tuple, out.collect()), key=repr)

    assert rows(minhash_signatures(df, shingle_k=1)) == rows(
        minhash_signatures(df, shingle_k=1, impl="expr")
    )
    assert rows(with_simhash(df)) == rows(with_simhash(df, impl="expr"))
    assert rows(doc_fingerprints(df, k=1)) == rows(doc_fingerprints(df, k=1, impl="expr"))
    pairs = {
        impl: rows(containment_pairs(df, shingle_k=1, min_shared=1, threshold=0.0, impl=impl))
        for impl in ("pandas", "expr")
    }
    assert pairs["pandas"] == pairs["expr"] and len(pairs["pandas"]) == 3


def test_verified_near_dups(spark):
    from uniparser_spark.textops import verified_near_dups
    near = BASE + " tail"
    far = "completely different vocabulary with no overlap whatsoever in any gram"
    df = docs_df(spark, [(0, BASE), (1, near), (2, far)])
    rows = {(r["id1"], r["id2"]): r["jaccard"] for r in verified_near_dups(df, threshold=0.5).collect()}
    assert (0, 1) in rows and rows[(0, 1)] > 0.8
    assert all(2 not in pair for pair in rows)


def test_rhp_multiprobe_recall_beats_single_table(spark):
    from uniparser_spark.textops import rhp_lsh_topk, rhp_multiprobe_topk

    rows = [(i, [float((i * 13 + d * 5) % 17 - 8) for d in range(8)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["qid"], r["vec_id"])
        for r in cosine_topk(emb, n_queries=4, k=3).collect()
    }

    def recall(df):
        got = {(r["qid"], r["vec_id"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    r1 = recall(rhp_lsh_topk(emb, n_queries=4, k=3, n_planes=5, dims=8))
    r3 = recall(
        rhp_multiprobe_topk(emb, n_queries=4, k=3, n_planes=5, dims=8)
    )
    assert r3 >= r1  # OR'd tables can only add candidates
    assert r3 >= 0.5


def test_ivf_topk_recall_and_full_probe_exactness(spark):
    from uniparser_spark.textops.similarity import ivf_topk

    rows = [(i, [float((i * 13 + d * 5) % 17 - 8) for d in range(8)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["qid"], r["vec_id"])
        for r in cosine_topk(emb, n_queries=4, k=3).collect()
    }
    # probing EVERY cell degenerates to brute force: must equal the baseline
    full = {
        (r["qid"], r["vec_id"])
        for r in ivf_topk(emb, n_cells=4, nprobe=4, n_queries=4, k=3).collect()
    }
    assert full == exact
    # partial probe keeps useful recall and each query still returns k rows
    part = ivf_topk(emb, n_cells=8, nprobe=3, n_queries=4, k=3).collect()
    got = {(r["qid"], r["vec_id"]) for r in part}
    assert len(got & exact) / len(exact) >= 0.5
    by_q = {}
    for r in part:
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    assert all(len(v) == 3 for v in by_q.values())


def test_embedding_verified_pairs_finds_planted_dup(spark):
    from uniparser_spark.textops import embedding_verified_pairs

    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(1, 50)]
    rows.append((0, rows[5][1]))  # vec 0 duplicates vec 6
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id1"], r["id2"]): r["sim"]
        for r in embedding_verified_pairs(
            emb, threshold=0.999, n_planes=6, dims=8
        ).collect()
    }
    assert (0, 6) in pairs
    assert pairs[(0, 6)] == pytest.approx(1.0)


def test_xxhash64_impl_pair_set_parity(spark):
    """Dual-impl parity on what dedup EMITS (pair sets), not hash
    values: md5 (oracle path) and native-xxhash64 (production path)
    verified near-dup pipelines recover the same planted pairs, and the
    xxhash64 plan contains no Python evaluation."""
    from uniparser_spark.textops.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_signatures_xx,
        verified_near_dups,
        with_simhash,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(12):
        text = " ".join(words[j % 10] for j in range(i, i + 8))
        rows.append((i, text))
        rows.append((100 + i, text))  # planted exact near-dup partner
    rows.append((300, "entirely different content with no partner at all"))
    docs = docs_df(spark, rows)

    planted = {(i, 100 + i) for i in range(12)}
    by_impl = {}
    for impl in ("pandas", "xxhash64"):
        by_impl[impl] = {
            (r["id1"], r["id2"])
            for r in verified_near_dups(docs, threshold=0.9, impl=impl).collect()
        }
        assert planted <= by_impl[impl], (impl, planted - by_impl[impl])
    # the two hash families emit the SAME verified pair set
    assert by_impl["pandas"] == by_impl["xxhash64"]

    # n_shingles agrees between impls; xx signatures have the right shape
    md5_counts = {
        r["doc_id"]: r["n_shingles"]
        for r in minhash_signatures(docs, n_hashes=4, shingle_k=3).collect()
    }
    xx = minhash_signatures_xx(docs).collect()
    assert {r["doc_id"]: r["n_shingles"] for r in xx} == md5_counts
    assert all(len(r["sig"]) == 4 for r in xx)

    # identical texts -> identical xxhash64 simhash
    sh = {r["doc_id"]: r["simhash"] for r in with_simhash(docs, impl="xxhash64").collect()}
    assert all(sh[i] == sh[100 + i] for i in range(12))

    # production plan is Python-free: no Arrow/pickle eval operators
    plan = lsh_candidate_pairs(docs, impl="xxhash64")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_simhash_hamming_pairs_pigeonhole_complete(spark):
    """The banded hamming join finds EXACTLY the pairs a brute-force
    all-pairs scan finds (pigeonhole: d+1 segments, <=d differing bits
    must leave one segment equal) — no candidate is missed."""
    from uniparser_spark.textops.dedup import simhash_hamming_pairs, with_simhash

    rows = [(i, f"doc number {i} with shared words " + "alpha " * (i % 5)) for i in range(60)]
    docs = docs_df(spark, rows)
    hashes = sorted({r["simhash"] for r in with_simhash(docs).collect()})
    brute = {
        (a, b, bin(a ^ b).count("1"))
        for i, a in enumerate(hashes)
        for b in hashes[i + 1 :]
        if bin(a ^ b).count("1") <= 2
    }
    got = {
        (r["h1"], r["h2"], r["hamming"])
        for r in simhash_hamming_pairs(docs).collect()
    }
    assert got == brute


def test_host_quality_stats_aggregates(spark):
    from uniparser_spark.textops.quality import host_quality_stats

    df = spark.createDataFrame(
        [
            ("a", "the of and to in is that table value part hash"),
            ("a", "the of and to in is that table value part hash"),  # dup
            ("b", "zz yy xx"),
        ],
        "host string, text string",
    )
    rows = {r["host"]: r for r in host_quality_stats(df).collect()}
    assert rows["a"]["n_docs"] == 2 and rows["a"]["dup_frac"] == 0.5
    assert rows["b"]["n_docs"] == 1 and rows["b"]["dup_frac"] == 0.0
    # the stopword-rich host scores higher quality than the junk host
    assert rows["a"]["avg_quality"] > rows["b"]["avg_quality"]
    assert rows["a"]["sum_quality"] == 2 * rows["a"]["avg_quality"]


def test_host_reputation_as_scheduler_budget(spark):
    """Reputation -> budget: a low-quality host's crawl budget is cut,
    so only its top-ranked URL is scheduled while the good host drains."""
    from pyspark.sql import functions as F
    from uniparser_spark.frontier.politeness import schedule_batch
    from uniparser_spark.textops.quality import host_quality_stats

    docs = spark.createDataFrame(
        [
            ("good", "the of and to in is that table value part hash"),
            ("spam", "zz zz zz zz"),
        ],
        "host string, text string",
    )
    budgets = host_quality_stats(docs).select(
        "host",
        F.when(F.col("avg_quality") >= 0.4, F.lit(2))
        .otherwise(F.lit(1))
        .alias("budget"),
    )
    pending = spark.createDataFrame(
        [(f"http://{h}/{i}", h) for h in ("good", "spam") for i in range(2)],
        "url_canon string, host string",
    ).select(
        "url_canon",
        "host",
        F.lit(0.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovered_round"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("list_index"),
    )
    out = schedule_batch(pending, budgets=budgets)
    sched = {r["url_canon"] for r in out.collect() if r["scheduled"]}
    assert sched == {"http://good/0", "http://good/1", "http://spam/0"}


def test_doc_keywords_rational_tfidf(spark):
    from uniparser_spark.textops.quality import doc_keywords

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "common common cherry"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in doc_keywords(docs, k=2).collect()}
    # doc 1: apple tf=2 df=1 -> 2*(3-1+0.5)/1.5=3.3333 beats banana/common
    assert rows[1]["keywords"].startswith("01:apple")
    assert rows[1]["top_score"] == 3.3333
    # 'common' appears in every doc -> idf (3-3+0.5)/3.5 is tiny, never rank 1
    assert all(not r["keywords"].startswith("01:common") for r in rows.values())
    assert set(rows) == {1, 2, 3}


def test_readability_scores_flesch(spark):
    from uniparser_spark.textops.quality import readability_scores

    docs = docs_df(
        spark,
        [(1, "The cat sat. The dog ran!"),
         (2, "Incomprehensibility notwithstanding, multisyllabic terminology predominates.")],
    )
    rows = {r["doc_id"]: r for r in readability_scores(docs).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 6 and r1["n_sentences"] == 2
    # vowel groups: the|cat|sat -> e,a,a ; the|dog|ran -> e,o,a = 6
    assert r1["n_syllables"] == 6
    expected = round(206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6), 4)
    assert r1["flesch"] == expected and r1["band"] == "easy"
    # polysyllabic monster scores far lower
    assert rows[2]["flesch"] < r1["flesch"] and rows[2]["band"] == "hard"


def test_host_stats_approx_path(spark):
    """The HLL scale path (approx=True) plans without the distinct
    expand and lands within sketch tolerance of the exact counts."""
    from uniparser_spark.textops.quality import host_quality_stats

    rows = [("h", f"text number {i % 40} with words") for i in range(200)]
    df = spark.createDataFrame(rows, "host string, text string")
    exact = host_quality_stats(df).collect()[0]
    approx = host_quality_stats(df, approx=True).collect()[0]
    assert exact["n_docs"] == approx["n_docs"] == 200
    # HLL default rsd 5%: 40 distinct fingerprints -> within +-20%
    assert abs(approx["dup_frac"] - exact["dup_frac"]) < 0.2
    plan = host_quality_stats(df, approx=True)._jdf.queryExecution().executedPlan().toString()
    assert "approx_count_distinct" in plan or "HyperLogLog" in plan


def test_centroid_assign_picks_nearest_with_ties(spark):
    from uniparser_spark.textops.similarity import centroid_assign

    rows = [
        (0, [1.0, 0.0]),          # centroid 0
        (1, [0.0, 1.0]),          # centroid 1
        (2, [0.9, 0.1]),          # -> centroid 0
        (3, [0.1, 0.9]),          # -> centroid 1
        (4, [1.0, 1.0]),          # equidistant: tie -> lower centroid_id
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["centroid_id"] for r in centroid_assign(emb, k=2).collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 1, 4: 0}


def test_incremental_dedup_verdicts_and_idempotence(spark):
    import hashlib as _hl

    from uniparser_spark.textops.dedup import incremental_dedup

    batch = spark.createDataFrame(
        [(1, "a b"), (2, "A  b"), (3, "c"), (4, "d")],
        "doc_id long, text string",
    )
    fp_c = _hl.md5(b"c").hexdigest()[:16]
    ledger = spark.createDataFrame([(fp_c,)], "content_fp string")

    out = {r["doc_id"]: r for r in incremental_dedup(batch, ledger).collect()}
    assert out[1]["reason"] == "new" and out[1]["admitted"] == 1
    # same normalized content as doc 1, larger id -> in-batch loser
    assert out[2]["reason"] == "dup_batch" and out[2]["admitted"] == 0
    assert out[3]["reason"] == "dup_corpus" and out[3]["admitted"] == 0
    assert out[4]["reason"] == "new" and out[4]["admitted"] == 1

    # ledger update = append admitted fps; replaying the batch against
    # the updated ledger admits nothing (ingest is idempotent)
    first = incremental_dedup(batch, ledger)
    updated = ledger.union(
        first.filter(F.col("admitted") == 1).select("content_fp")
    )
    replay = incremental_dedup(batch, updated).collect()
    assert all(r["admitted"] == 0 for r in replay)
    assert {r["reason"] for r in replay} <= {"dup_corpus", "dup_batch"}


def test_hashed_linear_scores_exact_vs_python(spark):
    import hashlib as _hl

    from uniparser_spark.textops.quality import hashed_linear_scores

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, ""), (3, "the quick brown fox")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in hashed_linear_scores(df).collect()}

    # pure-python twin of the hash-derived weights
    def w(feat: str) -> int:
        b = int(_hl.md5(feat.encode()).hexdigest()[:8], 16) % 4096
        return int(_hl.md5(f"w{b}".encode()).hexdigest()[:8], 16) % 2001 - 1000

    toks = "the quick brown fox".split()
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    ws = sum(w(f) for f in feats)
    assert got[1]["n_feats"] == 7  # 4 unigrams + 3 bigrams
    assert got[1]["w_sum"] == ws
    assert got[1]["admitted"] == (1 if ws > 0 else 0)
    assert got[1]["mean_w"] == round(ws / (1000.0 * 7), 6)
    # empty text: zero features, not-admitted, NULL mean
    assert got[2]["n_feats"] == 0 and got[2]["admitted"] == 0
    assert got[2]["mean_w"] is None
    # deterministic: identical text scores identically
    assert got[3]["w_sum"] == got[1]["w_sum"]


def test_flac_and_ico_header_parsers_direct():
    from uniparser_spark.textops.multimodal import (
        make_flac,
        make_ico,
        parse_media_header,
    )

    got = parse_media_header(make_flac(44100 * 3, rate=44100))
    assert got == {"fmt": "flac", "duration_ms": 3000}
    # 20-bit rate / 36-bit total-samples boundary values survive packing
    big = parse_media_header(make_flac((1 << 36) - 1, rate=(1 << 20) - 1))
    assert big["fmt"] == "flac" and big["duration_ms"] > 0
    ico = parse_media_header(make_ico(48, 48))
    assert ico == {"fmt": "ico", "width": 48, "height": 48, "n_frames": 1}
    # width byte 0 encodes 256 per the ICONDIR spec
    raw = bytearray(make_ico(48, 48))
    raw[6] = 0
    assert parse_media_header(bytes(raw))["width"] == 256
    # truncated containers parse to {}
    assert parse_media_header(b"fLaC\x80\x00\x00") == {}
    assert parse_media_header(b"\x00\x00\x01\x00\x01\x00") == {}


def test_cdc_chunks_survive_insertion_where_fixed_stride_fails(spark):
    from uniparser_spark.textops.dedup import cdc_chunks, dup_spans

    body = " ".join(f"tok{i % 97}x{(i * 7) % 13}" for i in range(400))
    shifted = "zzz " + body  # one-token head insertion
    df = docs_df(spark, [(0, body), (1, shifted)])

    cdc = cdc_chunks(df).collect()
    # CDC re-synchronizes: most of doc 0's chunks still match doc 1's
    per_doc = {d: sum(1 for r in cdc if r["doc_id"] == d) for d in (0, 1)}
    n_chunks0 = per_doc[0]
    assert n_chunks0 >= 5  # enough boundaries fired to be meaningful
    # fixed-stride chunking finds NO cross-doc duplicates after the shift
    fixed = dup_spans(df, k=16).collect()
    assert not fixed
    # ...but CDC flags (almost) the entire shared body in both docs
    assert per_doc[1] >= n_chunks0 - 1


def test_cdc_chunks_offsets_reconstruct_chunks(spark):
    from uniparser_spark.textops.dedup import cdc_chunks

    text = "a b c " * 30
    df = docs_df(spark, [(0, text), (1, text)])
    rows = [r for r in cdc_chunks(df).collect() if r["doc_id"] == 0]
    toks = text.split()
    # start_tok is 1-based; spans tile the document with no gaps/overlap
    rows.sort(key=lambda r: r["chunk_idx"])
    pos = 1
    for r in rows:
        assert r["start_tok"] == pos
        pos += r["n_tok"]
    assert pos == len(toks) + 1


def test_script_profile_counts_and_election(spark):
    from uniparser_spark.textops.quality import script_profile

    df = docs_df(spark, [
        (0, "hello world"),              # pure latin
        (1, "ко ok"),                    # cyrillic 2 vs latin 2 -> tie -> latin
        (2, "猫猫猫 ok"),                 # han 3 > latin 2
        (3, "مرحبا"),                    # pure arabic
        (4, "123 !!!"),                  # no script chars at all
    ])
    got = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert got[0]["main_script"] == "latin" and got[0]["latin"] == 10
    assert got[1]["latin"] == 2 and got[1]["cyrillic"] == 2
    assert got[1]["main_script"] == "latin"  # fixed tie-break order
    assert got[2]["main_script"] == "han" and got[2]["han"] == 3
    assert got[3]["main_script"] == "arabic" and got[3]["arabic"] == 5
    assert got[4]["main_script"] == "other" and got[4]["other"] == 7
    assert all(
        r["latin"] + r["cyrillic"] + r["han"] + r["arabic"] + r["other"]
        == r["n_chars"] for r in got.values()
    )


# ------------------------------------------------------------ bm25 index
def test_bm25_index_hand_computed(spark):
    """BM25 postings vs a plain-Python computation of the same rational
    formula (k1=1.2, b=0.75, idf=(N-df+.5)/(df+.5))."""
    from uniparser_spark.textops.index import bm25_index

    rows = [
        (1, "apple banana apple"),
        (2, "apple cherry"),
        (3, "banana banana banana cherry"),
        (4, "date"),
    ]
    out = {
        r["term"]: r
        for r in bm25_index(docs_df(spark, rows), topk=2)
        .collect()
    }
    # corpus: N=4, dl = [3,2,4,1], avgdl = 10/4
    # term df>=2: apple(df=2), banana(df=2), cherry(df=2)
    def score(tf, dl, df, n=4, avgdl=2.5, k1=1.2, b=0.75):
        idf = (n - df + 0.5) / (df + 0.5)
        tfn = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        return round(idf * tfn, 4)

    assert set(out) == {"apple", "banana", "cherry"}
    a = out["apple"]
    assert a["df"] == 2 and a["top_doc"] == 1
    assert a["top_score"] == pytest.approx(score(2, 3, 2))
    assert a["postings"] == "01:1|02:2"
    bna = out["banana"]
    assert bna["top_doc"] == 3
    assert bna["top_score"] == pytest.approx(score(3, 4, 2))
    # cherry: tf=1 in both docs; shorter doc (2) outranks doc 3
    c = out["cherry"]
    assert c["top_doc"] == 2 and c["postings"] == "01:2|02:3"


def test_bm25_index_min_df_and_topk(spark):
    from uniparser_spark.textops.index import bm25_index

    rows = [(i, "common unique%d" % i) for i in range(6)]
    out = bm25_index(docs_df(spark, rows), topk=3).collect()
    # only 'common' survives min_df=2; postings truncated to 3 of 6
    assert len(out) == 1
    r = out[0]
    assert r["term"] == "common" and r["df"] == 6
    # identical tf/dl everywhere -> tie broken by ascending doc_id
    assert r["postings"] == "01:0|02:1|03:2"


# --------------------------------------------------------- charset sniff
def test_charset_sniff_and_decode_roundtrip(spark):
    """All 7 synthesized encoding variants sniff correctly and decode
    back to the original markup (BOM stripped, UTF-16 handled)."""
    from uniparser_spark.textops.charset import (
        decode_html,
        sniff_charset,
        synth_html_bytes,
    )

    ids = spark.createDataFrame([(i,) for i in range(14)], "doc_id long")
    raw = synth_html_bytes(ids)
    sniffed = {r["doc_id"]: r for r in sniff_charset(raw).collect()}
    expect = {
        0: ("utf-8", "bom"), 1: ("utf-8", "meta"),
        2: ("iso-8859-1", "meta"), 3: ("utf-16le", "bom"),
        4: ("utf-16be", "bom"), 5: ("windows-1252", "default"),
        6: ("shift_jis", "meta"),
    }
    for i in range(14):
        assert (sniffed[i]["charset"], sniffed[i]["source"]) == expect[i % 7], i
    decoded = {r["doc_id"]: r["text"] for r in decode_html(raw).collect()}
    for i in range(14):
        t = decoded[i]
        assert t.startswith("<html><head>"), i
        assert "<title>doc %d</title>" % i in t, i
        assert "�" not in t, i


def test_charset_decode_malformed_bytes_degrade(spark):
    """Invalid UTF-8 under a utf-8 meta label becomes U+FFFD, not an
    aborted scan (error-as-data)."""
    from uniparser_spark.textops.charset import decode_html

    bad = b'<html><head><meta charset="utf-8"><body>\xff\xfe\xc0</body>'
    df = spark.createDataFrame([(1, bad)], "doc_id long, html binary")
    row = decode_html(df).collect()[0]
    assert row["charset"] == "utf-8" and row["source"] == "meta"
    assert "�" in row["text"] and "<body>" in row["text"]


def test_encoding_health_detects_real_misdecode(spark):
    """A genuine utf-8→cp1252 mis-decode (not a synthetic marker) is
    flagged; clean unicode text is not."""
    from uniparser_spark.textops.charset import encoding_health

    damaged = "café — “quote”…".encode("utf-8").decode(
        "cp1252", errors="replace"
    )
    rows = [(1, damaged), (2, "clean text, even with accents: café née")]
    out = {
        r["doc_id"]: r
        for r in encoding_health(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    d = out[1]
    assert d["verdict"] == "damaged"
    assert d["n_moji"] >= 3  # Ã©, â€”/â€œ family
    assert d["n_repl"] >= 1  # cp1252-undefined byte -> U+FFFD
    c = out[2]
    assert c["verdict"] == "clean" and c["n_moji"] == 0 and c["n_repl"] == 0


def test_length_distribution_exact_and_approx(spark):
    """Exact deciles vs hand computation; approx path returns the same
    schema and plausible values."""
    from uniparser_spark.textops.quality import length_distribution

    # 5 docs of 1..5 tokens in one stratum
    rows = [(i, " ".join(["w"] * i), "en", "web") for i in range(1, 6)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    r = length_distribution(df).collect()[0]
    assert r["n_docs"] == 5 and r["total_tokens"] == 15
    # type-7 interpolation over [1,2,3,4,5]: p10=1.4, p50=3, p90=4.6
    assert r["p10_tokens"] == pytest.approx(1.4)
    assert r["p50_tokens"] == pytest.approx(3.0)
    assert r["p90_tokens"] == pytest.approx(4.6)
    assert r["mean_tokens"] == pytest.approx(3.0)
    ra = length_distribution(df, approx=True).collect()[0]
    assert ra["n_docs"] == 5 and 1 <= ra["p10_tokens"] <= ra["p90_tokens"] <= 5


def test_containment_pairs_quote_case(spark):
    """A short doc fully quoted inside a long one: containment ≈ 1
    while Jaccard is low — the pair MinHash-on-full-docs misses."""
    from uniparser_spark.textops.dedup import containment_pairs

    quote = "the quarterly report shows revenue rose sharply in march"
    filler = " ".join("filler%d word%d extra%d" % (i, i, i) for i in range(30))
    rows = [
        (1, quote),
        (2, "intro text before the quote . " + quote + " . closing remarks " + filler),
        (3, "completely unrelated content about gardening and weather patterns today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = containment_pairs(
        df, shingle_k=3, min_shared=3, threshold=0.5
    ).collect()
    pairs = {(r["id1"], r["id2"]): r for r in out}
    assert (1, 2) in pairs and len(pairs) == 1
    r = pairs[(1, 2)]
    # every shingle of doc1 appears in doc2 -> c1 == 1.0
    assert r["c1"] == 1.0 and r["containment"] == 1.0
    # but doc2 is much bigger: the symmetric-Jaccard view is small
    assert r["c2"] < 0.2


def test_containment_pairs_impl_parity(spark):
    """md5 (oracle) and xxhash64 (production) fingerprints emit the
    identical pair set and identical scores."""
    from uniparser_spark.textops.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, quote),
        (2, quote + " plus trailing commentary words here " + quote),
        (3, "unrelated words entirely different from the others completely"),
        (4, quote),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda out: sorted(
        (r["id1"], r["id2"], r["n_shared"], r["c1"], r["c2"]) for r in out
    )
    a = key(containment_pairs(df, impl="expr").collect())
    b = key(containment_pairs(df, impl="xxhash64").collect())
    c = key(containment_pairs(df, impl="pandas").collect())
    assert a == b == c and len(a) >= 3  # (1,2),(1,4),(2,4)


def test_winnow_fingerprints_guarantee_and_ties(spark):
    """Winnowing invariants: (a) the t = w+k-1 guarantee — two docs
    sharing a >= t-token run share at least one selected fingerprint;
    (b) selection density is sparse (<= n_grams windows can never
    select more than n_grams, and typically ~2/(w+1)); (c) rightmost
    tie-break — a doc of one repeated token has every window minimum
    at its RIGHT edge."""
    from uniparser_spark.textops.quality import winnow_fingerprints

    k, w = 4, 4
    shared = "one two three four five six seven eight"  # 8 tokens >= w+k-1
    rows = [
        (1, "prefix words here " + shared),
        (2, shared + " completely different suffix follows now"),
        (3, "zz zz zz zz zz zz zz zz"),  # all grams identical
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_fingerprints(df, k=k, w=w).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    fps = lambda d: {fp for _, fp in by_doc[d]}
    # (a) guarantee: docs 1 and 2 share the 8-token run
    assert fps(1) & fps(2)
    # (b) selected set is a subset of the gram positions
    assert all(0 <= p <= 7 for p, _ in by_doc[1] | by_doc[2])
    # (c) doc 3: identical hashes everywhere -> rightmost of each
    # window wins; windows at p=0,1 (n_grams=5, w=4) select pos 3, 4
    assert {p for p, _ in by_doc[3]} == {3, 4}


def test_boilerplate_lines_host_scoped(spark):
    """A nav line on every page of a host is boilerplate; a unique
    body line is not; a host under min_docs is never classified."""
    from uniparser_spark.textops.clean import boilerplate_lines

    rows = []
    for i in range(6):  # big host: 6 pages, shared nav
        rows.append((i, "big.example", f"nav home login\nbody text {i}"))
    for i in range(2):  # tiny host: shared line but too few pages
        rows.append((10 + i, "tiny.example", "nav home login\nother"))
    df = spark.createDataFrame(rows, "doc_id long, host string, page string")
    out = boilerplate_lines(df).collect()
    got = {(r["host"], r["line"]): r for r in out}
    assert got[("big.example", "nav home login")]["boilerplate"] == 1
    assert got[("big.example", "nav home login")]["n_docs"] == 6
    assert got[("big.example", "body text 0")]["boilerplate"] == 0
    # tiny host: frac would qualify but host_docs < min_docs
    r = got[("tiny.example", "nav home login")]
    assert r["frac"] == 1.0 and r["boilerplate"] == 0


def test_bpe_merge_pairs_hand_counts(spark):
    """Adjacent-pair counts with deterministic tie-break, hand-checked."""
    from uniparser_spark.textops.mix import bpe_merge_pairs

    rows = [
        (1, "a b a b a"),   # 'a b' x2, 'b a' x2
        (2, "a b c"),       # 'a b' x1, 'b c' x1
        (3, "solo"),        # no pairs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["pair"]: (r["cnt"], r["rank"]) for r in
           bpe_merge_pairs(df, top_k=10).collect()}
    assert out["a b"] == (3, 1)
    assert out["b a"] == (2, 2)
    assert out["b c"] == (1, 3)
    assert "solo" not in out and len(out) == 3


def test_sentence_stats_hand_case(spark):
    """Segmentation and stats, hand-computed: punctuation runs split
    once, empty segments drop, degenerate docs yield NULL stats."""
    from uniparser_spark.textops.quality import sentence_stats

    rows = [
        (1, "one two three. four five! six?"),
        (2, "no terminal punctuation here"),
        (3, "!!!"),
        (4, "a. b... c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, page string")
    out = {r["doc_id"]: r for r in sentence_stats(df).collect()}
    r1 = out[1]
    assert (r1["n_sentences"], r1["max_sent_tokens"]) == (3, 3)
    assert r1["avg_sent_tokens"] == round((3 + 2 + 1) / 3, 4)
    assert out[2]["n_sentences"] == 1 and out[2]["max_sent_tokens"] == 4
    # only punctuation: zero sentences, NULL averages (no divide-by-zero)
    assert out[3]["n_sentences"] == 0 and out[3]["avg_sent_tokens"] is None
    # '...' is ONE terminator run
    assert out[4]["n_sentences"] == 3 and out[4]["max_sent_tokens"] == 1


def test_quantize_audit_hand_values(spark):
    from uniparser_spark.textops.similarity import quantize_audit

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.3, -0.6]),       # absmax 1.0 -> scale 1/127
            (2, [127.0, -64.0, 3.0]),    # integer components: exact
            (3, [0.0, 0.0, 0.0]),        # zero vector: defined branch
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r.asDict() for r in quantize_audit(emb).collect()}
    assert got[1]["n_dims"] == 3
    assert got[1]["scale"] == round(1.0 / 127.0, 10)
    assert got[1]["max_abs_err"] == pytest.approx(0.0015748, abs=1e-7)
    assert got[1]["mse"] == pytest.approx(1.0333e-06, rel=1e-3)
    assert got[1]["cos_q"] == pytest.approx(0.999999, abs=2e-6)
    # scale 1.0: every component is already an int8 level -> zero error
    assert got[2]["scale"] == 1.0
    assert got[2]["max_abs_err"] == 0.0
    assert got[2]["mse"] == 0.0
    assert got[2]["cos_q"] == 1.0
    # zero vector: scale 0, no error, cosine pinned to 1
    assert got[3]["scale"] == 0.0
    assert got[3]["mse"] == 0.0
    assert got[3]["cos_q"] == 1.0


def test_repair_mojibake_round_trip_and_safety(spark):
    from uniparser_spark.textops.charset import repair_mojibake

    docs = spark.createDataFrame(
        [
            (1, "menu: cafÃ© rÃ©sumÃ©"),        # classic 2-byte damage
            (2, "quote: donâ€™t â€” fine"),     # cp1252 punctuation family
            (3, "legit: SÃO PAULO"),            # marker but invalid utf-8:
                                                 # round-trip fails, kept
            (4, "plain ascii only"),             # no markers: short-circuit
            (5, None),                           # null text: empty contract
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repair_mojibake(docs).collect()}
    assert got[1]["repaired"] == 1 and got[1]["n_fixed"] == 3
    assert got[1]["text_repaired"] == "menu: café résumé"
    assert got[2]["repaired"] == 1 and got[2]["n_fixed"] == 2
    assert got[2]["text_repaired"] == "quote: don’t — fine"
    # the safety gate: legitimate 'Ã' never gets corrupted
    assert got[3]["repaired"] == 0
    assert got[3]["text_repaired"] == "legit: SÃO PAULO"
    assert got[4]["repaired"] == 0
    assert got[4]["text_repaired"] == "plain ascii only"
    assert got[5]["repaired"] == 0 and got[5]["text_repaired"] == ""


def test_phrase_positions_offsets_and_nulls(spark):
    from uniparser_spark.textops.index import phrase_positions

    docs = spark.createDataFrame(
        [
            (1, "new york is new york"),     # offsets 0 and 3
            (2, "york new"),                 # reversed: no match
            (3, "brand New  York city"),     # case/whitespace normalize
            (4, "new"),                      # shorter than the phrase
            (5, ""),                         # empty
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in phrase_positions(docs, "New York").collect()
    }
    assert got[1] == {
        "doc_id": 1, "n_occurrences": 2, "first_pos": 0, "last_pos": 3
    }
    assert got[2]["n_occurrences"] == 0 and got[2]["first_pos"] is None
    assert got[3] == {
        "doc_id": 3, "n_occurrences": 1, "first_pos": 1, "last_pos": 1
    }
    assert got[4]["n_occurrences"] == 0
    assert got[5]["n_occurrences"] == 0 and got[5]["last_pos"] is None


def test_hard_negatives_gates_and_ranking(spark):
    """Dup bar excludes the exact duplicate, floor drops orthogonal /
    opposite vectors, survivors rank by similarity desc."""
    from uniparser_spark.textops.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),   # sim 1.0 -> excluded (>= dup_threshold)
        (2, [1.0, 1.0]),   # sim 0.707107 -> rank 2
        (3, [0.0, 1.0]),   # sim 0.0 -> below floor
        (4, [-1.0, 0.0]),  # sim -1.0 -> below floor
        (5, [2.0, 1.0]),   # sim 0.894427 -> rank 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r["qid"], r["vec_id"], r["rank"], r["sim"])
        for r in hard_negatives(
            emb, n_queries=1, k=2, dup_threshold=0.9, floor=0.1
        )
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got == [(0, 5, 1, 0.894427), (0, 2, 2, 0.707107)]


def test_minhash_error_audit_exact_dup_and_bounds(spark):
    """Identical docs: estimate and exact both 1.0, error 0; every
    audited pair stays in [0,1] with |err| = |est - jaccard|."""
    from uniparser_spark.textops.dedup import minhash_error_audit

    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "the quick brown fox jumps over the lazy cat tonight"),
        (4, "completely different words appear in this other document here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id1"], r["id2"]): r for r in minhash_error_audit(df).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert (r["est_jaccard"], r["jaccard"], r["abs_err"]) == (1.0, 1.0, 0.0)
    for v in out.values():
        assert 0.0 <= v["est_jaccard"] <= 1.0
        assert 0.0 <= v["jaccard"] <= 1.0
        assert abs(v["abs_err"] - abs(v["est_jaccard"] - v["jaccard"])) < 2e-4


def test_centroid_update_hand_values(spark):
    """2-D, k=2: cluster means and shifts computed by hand; a
    centroid's own vector participates in its mean."""
    from uniparser_spark.textops.similarity import centroid_update

    rows = [
        (0, [1.0, 0.0]),   # centroid 0
        (1, [0.0, 1.0]),   # centroid 1
        (2, [2.0, 0.0]),   # -> c0 (sim 1.0)
        (3, [0.0, 3.0]),   # -> c1 (sim 1.0)
        (4, [0.0, 0.5]),   # -> c1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["centroid_id"]: r for r in centroid_update(emb, k=2).collect()}
    c0, c1 = got[0], got[1]
    assert (c0["n_members"], c0["mean_sim"]) == (2, 1.0)
    # c0 members {(1,0),(2,0)} -> mean (1.5, 0), shift 0.5
    assert c0["shift"] == 0.5
    assert (c1["n_members"], c1["mean_sim"]) == (3, 1.0)
    # c1 members {(0,1),(0,3),(0,.5)} -> mean (0, 1.5), shift 0.5
    assert c1["shift"] == 0.5


def test_embedding_health_counters(spark):
    from uniparser_spark.textops.similarity import embedding_health

    rows = [
        (1, [3.0, 4.0]),          # norm 5
        (2, [0.0, 0.0]),          # zero norm
        (3, None),                # null
        (4, [1.0]),               # wrong dim
        (5, [float("nan"), 1.0]), # non-finite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = embedding_health(df, expected_dim=2).collect()[0]
    assert (r["n_vecs"], r["n_null"], r["n_wrong_dim"]) == (5, 1, 2)
    assert (r["n_nonfinite"], r["n_zero_norm"]) == (1, 1)


def test_webp_header_roundtrip():
    from uniparser_spark.textops.multimodal import make_webp, parse_media_header

    meta = parse_media_header(make_webp(320, 200))
    assert meta == {"fmt": "webp", "width": 320, "height": 200, "n_frames": 1}
    # VP8X canvas fields are 24-bit: dims up to 16384 round-trip
    meta = parse_media_header(make_webp(16384, 1))
    assert (meta["width"], meta["height"]) == (16384, 1)
    # a bare lossy WEBP without VP8X is the honest codec seam: no sniff
    blob = b"RIFF\x10\x00\x00\x00WEBPVP8 " + b"\x00" * 8
    assert parse_media_header(blob) == {}


def test_syndication_bursts_and_yield(spark):
    from uniparser_spark.textops.dedup import syndication_bursts
    from uniparser_spark.textops.quality import host_yield

    pages = spark.createDataFrame(
        [("h1", "wire"), ("h2", "wire"), ("h3", "wire"), ("h3", "wire"),
         ("h1", "solo"), ("h2", "pair"), ("h3", "pair")],
        "host string, fp string",
    )
    got = {r["fp"]: r for r in syndication_bursts(pages).collect()}
    assert list(got) == ["wire"]
    assert (got["wire"]["n_hosts"], got["wire"]["n_docs"]) == (3, 4)
    assert got["wire"]["sample_hosts"] == ["h1", "h2", "h3"]

    docs = spark.createDataFrame(
        [("a", "<x>" + "pad" * 100 + "</x>one two", "one two"),
         ("b", "<x>one two</x>", "one two")],
        "host string, html string, text string",
    )
    y = {r["host"]: r for r in host_yield(docs).collect()}
    assert y["a"]["n_tokens"] == y["b"]["n_tokens"] == 2
    assert y["a"]["tokens_per_mb"] < y["b"]["tokens_per_mb"]
    assert y["b"]["text_ratio"] == round(7 / 14, 4)


def test_stopword_candidates_df_gate(spark):
    from uniparser_spark.textops.quality import stopword_candidates

    rows = [
        (1, "en", "the cat sat"),
        (2, "en", "the dog ran"),
        (3, "en", "a the bird"),
        (4, "en", "cat nap"),     # 'the' df=3/4, 'cat' df=2/4, rest 1/4
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["token"]: r
        for r in stopword_candidates(df).collect()
    }
    assert set(got) == {"the", "cat"}
    assert (got["the"]["rank"], got["the"]["df_ratio"]) == (1, 0.75)
    assert (got["cat"]["rank"], got["cat"]["df_ratio"]) == (2, 0.5)
