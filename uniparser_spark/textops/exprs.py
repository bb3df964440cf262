"""Shared column-expression builders (tokens, shingles, hashes).

Design rule: every expression must have an exact DuckDB equivalent so
the driver's oracle comparison hash-matches.  The portable deterministic
hash is ``substr(md5(s), 1, 16)`` (lexicographic min works identically
on both engines); pseudo-random bits come from ``ascii(substr(md5(s),
j, 1)) % 2``.  Floats are always computed in double precision with the
same left-to-right summation order and rounded before emission.
"""

from __future__ import annotations

import re
from typing import List, Optional

from pyspark.sql import Column, functions as F

WS_RE = r"\s+"
# Java's \s is ASCII [ \t\n\x0B\f\r], the same set as Python's re.ASCII \s
_WS = re.compile(WS_RE, re.ASCII)


def tokens(col: Column) -> Column:
    """Whitespace tokenization — split(trim(text), '\\s+')."""
    return F.split(F.trim(col), WS_RE)


def split_tokens(text: Optional[str]) -> List[str]:
    """Python twin of :func:`tokens` for the pandas kernels.  Spark's
    ``trim`` strips only U+0020 and its split is Java's ASCII ``\\s``, so
    a tab-led text starts with an empty token and U+00A0 joins two
    words; a blank text is one empty token.  A NULL text has no tokens
    (the expressions' NULL array yields no shingles either)."""
    return [] if text is None else _WS.split(text.strip(" "))


def word_shingles(toks: Column, k: int) -> Column:
    """Word k-grams joined by single spaces; empty array when the doc has
    fewer than k tokens (guards sequence() against negative bounds)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.when(F.size(toks) >= k, grams).otherwise(F.array().cast("array<string>"))


def word_grams(toks: List[str], k: int) -> List[str]:
    """Python twin of :func:`word_shingles`: the word k-grams of
    ``toks`` in order, joined by single spaces; empty below k tokens."""
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def h16(col: Column) -> Column:
    """Portable 64-bit-ish deterministic hash: first 16 hex chars of md5."""
    return F.substring(F.md5(col.cast("string")), 1, 16)


def seeded_h16(seed: Column, col: Column) -> Column:
    """Seeded variant: md5('<seed>:<value>') — the MinHash family."""
    return F.substring(
        F.md5(F.concat(seed.cast("string"), F.lit(":"), col)), 1, 16
    )


def md5_bit(col: Column, j) -> Column:
    """Deterministic pseudo-random bit j∈[1,32] of a string: parity of the
    j-th hex char of its md5 (identical in DuckDB)."""
    return F.ascii(F.substring(F.md5(col.cast("string")), j, 1)) % 2


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product with sequential left-fold summation —
    bit-identical to DuckDB's list_dot_product over double[]."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))
