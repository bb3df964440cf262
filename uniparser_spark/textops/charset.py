"""Charset sniffing + decoding for binary HTML columns.

The north-rule input table carries ``html:binary`` — real crawl
archives (WARC payloads) are bytes, and the bytes→text step needs the
page's encoding.  This implements the WHATWG-ish sniff order a crawler
actually uses:

1. BOM (UTF-8 / UTF-16LE / UTF-16BE) — authoritative;
2. ``<meta charset=...>`` / ``http-equiv Content-Type`` scanned in the
   first 1024 bytes (the spec's prescan window), read through a
   latin-1 view because ISO-8859-1 maps every byte — the classic
   never-fails prescan trick;
3. fallback ``windows-1252`` (the HTML5 default for unlabeled pages).

The SNIFF is pure native expressions — binary substring + hex for the
BOM, one regexp over the decoded prescan window — whole-stage codegen,
zero Python, so it filters/aggregates at scan speed over 100 TB of
WARC payloads.  The DECODE (bytes → text with the sniffed charset) is
the one genuinely Pythonic step (JVM expressions can't switch codecs
per row) and runs as one Arrow-batched ``mapInPandas`` crossing using
stdlib codecs with ``errors='replace'`` — malformed bytes degrade to
U+FFFD, never an aborted scan (error-as-data, same contract as the
extraction chains).

Reference parity: the reference decodes responses with
requests/chardet heuristics at fetch time (``crawler.py`` response
handling); here sniffing is a relational operator over the archived
bytes so it can run long after the fetch, at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..engine.rows import map_rows

_META_RE = r"""charset=["']?([a-z0-9_\-]+)"""
DEFAULT_CHARSET = "windows-1252"

# python codec spellings for the charsets the sniffer can emit
_PY_CODECS = {
    "utf-8": "utf-8",
    "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
    "iso-8859-1": "latin-1",
    "windows-1252": "cp1252",
    "shift_jis": "shift_jis",
    "gbk": "gbk",
    "euc-kr": "euc_kr",
}


def sniff_charset_cols(b: Column) -> tuple[Column, Column]:
    """(charset, source) columns sniffed from a binary HTML column."""
    hex3 = F.hex(F.substring(b, 1, 3))
    hex2 = F.hex(F.substring(b, 1, 2))
    head = F.lower(F.decode(F.substring(b, 1, 1024), "ISO-8859-1"))
    meta = F.regexp_extract(head, _META_RE, 1)
    charset = (
        F.when(hex3 == "EFBBBF", F.lit("utf-8"))
        .when(hex2 == "FFFE", F.lit("utf-16le"))
        .when(hex2 == "FEFF", F.lit("utf-16be"))
        .when(meta != "", meta)
        .otherwise(F.lit(DEFAULT_CHARSET))
    )
    source = (
        F.when(
            (hex3 == "EFBBBF") | (hex2 == "FFFE") | (hex2 == "FEFF"),
            F.lit("bom"),
        )
        .when(meta != "", F.lit("meta"))
        .otherwise(F.lit("default"))
    )
    return charset, source


def sniff_charset(df: DataFrame) -> DataFrame:
    """Per-page charset verdict: ``(id, charset, source)``."""
    charset, source = sniff_charset_cols(F.col("html"))
    return df.select(
        F.col("doc_id"), charset.alias("charset"), source.alias("source")
    )


def decode_html(df: DataFrame) -> DataFrame:
    """Bytes → text using the sniffed charset (BOM stripped), one
    Arrow crossing, U+FFFD on malformed sequences."""
    charset, source = sniff_charset_cols(F.col("html"))
    staged = df.select(
        F.col("doc_id"),
        F.col("html").alias("_b"),
        charset.alias("charset"),
        source.alias("source"),
    )
    schema = "doc_id long, charset string, source string, text string"
    boms = {
        "utf-8": b"\xef\xbb\xbf",
        "utf-16le": b"\xff\xfe",
        "utf-16be": b"\xfe\xff",
    }

    def decode(doc_id, raw, cs, src):
        data = bytes(raw or b"")
        if src == "bom":
            data = data[len(boms[cs]):]
        codec = _PY_CODECS.get(cs, "cp1252")
        return [(doc_id, cs, src, data.decode(codec, errors="replace"))]

    return map_rows(staged, schema, decode)


def synth_html_bytes(df: DataFrame) -> DataFrame:
    """Deterministic binary-HTML synthesis (tests/bench): 7 encoding
    variants keyed on ``id % 7``, built with native encode/to_binary —
    real bytes in the declared encodings, no Python."""
    d = F.col("doc_id")
    m = d % 7
    body = F.concat(
        F.lit("<title>doc "), d.cast("string"),
        F.lit("</title></head><body>page "), d.cast("string"),
        F.lit("</body></html>"),
    )
    plain = F.concat(F.lit("<html><head>"), body)
    meta_u8 = F.concat(
        F.lit('<html><head><meta charset="utf-8">'), body
    )
    meta_l1 = F.concat(
        F.lit(
            '<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=iso-8859-1">'
        ),
        body,
    )
    meta_sj = F.concat(
        F.lit("<html><head><meta charset='shift_jis'>"), body
    )
    html = (
        F.when(
            m == 0,
            F.concat(
                F.to_binary(F.lit("EFBBBF"), F.lit("hex")),
                F.encode(plain, "UTF-8"),
            ),
        )
        .when(m == 1, F.encode(meta_u8, "UTF-8"))
        .when(m == 2, F.encode(meta_l1, "UTF-8"))
        .when(
            m == 3,
            F.concat(
                F.to_binary(F.lit("FFFE"), F.lit("hex")),
                F.encode(plain, "UTF-16LE"),
            ),
        )
        .when(
            m == 4,
            F.concat(
                F.to_binary(F.lit("FEFF"), F.lit("hex")),
                F.encode(plain, "UTF-16BE"),
            ),
        )
        .when(m == 5, F.encode(plain, "UTF-8"))
        .otherwise(F.encode(meta_sj, "UTF-8"))
    )
    return df.select(d, html.alias("html"))


# --------------------------------------------------------- encoding health
# UTF-8 text that was mis-decoded through cp1252/latin-1 at some point
# leaves unmistakable artifacts: 'Ã'+trailing char (a two-byte Latin
# sequence read as two chars) and the 'â€¦'-family (three-byte
# punctuation).  U+FFFD marks bytes a decoder already gave up on.
# Counting these is the corpus-hygiene signal that catches
# double-encoding damage AFTER the bytes are gone — scan-speed regexp
# counts, no Python.  The continuation-byte images under cp1252 are NOT
# a contiguous codepoint range, so the pattern accepts any trailing
# char; a legitimate bare 'Ã' (upper-case "SÃO"-style words) is the
# documented false-positive channel — treat damage_per_kchar as a
# score, not a proof.
_MOJI_RE = "(Ã.)|(â€.)"


def encoding_health(df: DataFrame) -> DataFrame:
    """Per-doc encoding-damage profile: replacement-char count,
    mojibake-pair count, damage per kchar (4 dp), and a verdict
    (``clean`` / ``damaged`` at >0 artifacts)."""
    t = F.col("text")
    n_repl = F.size(
        F.regexp_extract_all(t, F.lit("�"), F.lit(0))
    ).cast("long")
    n_moji = F.size(
        F.regexp_extract_all(t, F.lit(_MOJI_RE), F.lit(0))
    ).cast("long")
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("double")
    per_kchar = F.round(
        (n_repl + n_moji).cast("double") * F.lit(1000.0) / n_chars, 4
    )
    return df.select(
        F.col("doc_id"),
        n_repl.alias("n_repl"),
        n_moji.alias("n_moji"),
        per_kchar.alias("damage_per_kchar"),
        F.when((n_repl + n_moji) > 0, F.lit("damaged"))
        .otherwise(F.lit("clean"))
        .alias("verdict"),
    )


# --------------------------------------------------------- mojibake repair
def repair_mojibake(df: DataFrame) -> DataFrame:
    """The ACTION twin of :func:`encoding_health`: repair classic
    UTF-8-read-as-cp1252 mojibake ("cafÃ©" → "café", "donâ€™t" →
    "don’t") by reversing the mis-decode — re-encode the text to
    cp1252 and decode the recovered bytes as UTF-8 (what ftfy's core
    fixer does for this damage class).

    Safety gate (why this never corrupts legitimate text): the repair
    is applied only when BOTH codec steps succeed STRICTLY on the whole
    document.  Legit "SÃO PAULO" encodes to cp1252 as 0xC3 0x4F, which
    is invalid UTF-8, so the decode raises and the original text is
    kept — the round-trip itself is the authenticity proof.  One pass
    only; double-encoded damage repairs one layer per run (documented,
    rerunnable).

    Output: (id, repaired, n_fixed, text_repaired) where n_fixed is the
    drop in encoding_health's artifact-pair count and repaired = 1 only
    when the round-trip succeeded AND strictly reduced artifacts.

    Scale: one Arrow crossing; rows without any artifact marker
    short-circuit inside the batch via a vectorized pre-check (the
    codec round-trip runs only on flagged rows, which in a healthy
    corpus is a tiny fraction).
    """
    import re as _re

    pat = _re.compile("(Ã.)|(â€.)", _re.DOTALL)
    schema = "doc_id long, repaired int, n_fixed int, text_repaired string"

    def fix_one(t: str) -> tuple:
        n_pre = len(pat.findall(t))
        if n_pre == 0:
            return 0, 0, t
        try:
            cand = t.encode("cp1252", errors="strict").decode(
                "utf-8", errors="strict"
            )
        except UnicodeError:
            return 0, 0, t
        n_post = len(pat.findall(cand))
        if n_post < n_pre:
            return 1, n_pre - n_post, cand
        return 0, 0, t

    return map_rows(
        df.select("doc_id", "text"),
        schema,
        lambda i, t: [(i, *fix_one(t if t is not None else ""))],
    )
