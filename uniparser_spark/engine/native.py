"""Native chain compiler: rule chains → Catalyst expressions.

The byte-identity surface (engine.extract) runs every chain inside one
fused pandas UDF because DOM/udf/loader semantics are Python-shaped.
But many real chains are pure string/array/time transformations —
exactly what ``pyspark.sql.functions`` already expresses.  This module
compiles such chains into native Column expressions, so extraction of
those rules runs entirely inside whole-stage codegen: no Python
workers, no Arrow crossings, vectorized end-to-end.

``compile_chain(chain_rules)`` returns a ``Column -> Column`` function
or ``None`` when any step falls outside the native-expressible subset;
``extract_columns(df, parse_rules, ...)`` builds a typed projection
(one output column per rule), falling back to the Python chain executor
via a pandas UDF per non-native rule when ``fallback=True``.

Supported steps (semantics differential-tested against the Python
executor in tests/test_native.py):

- ``re``: '' findall → regexp_extract_all; '$N' → regexp_extract_all
  group N; '#N' → regexp_extract ('' on miss, like the reference);
  '@repl' → regexp_replace for replacements without backrefs/escapes;
  '-' split → split(c, p, -1) (limit -1 keeps trailing empties like
  Python; capturing-group and zero-width-matching patterns rejected).
- ``python``: split (literal sep, \\Q..\\E-quoted) / join / strip /
  getitem with '[a:b]' slices and non-negative '[i]' indexes / sort /
  chain (flatten) / const / base64_encode / base64_decode / template
  ($input_object/$obj substitution → format_string; unknown names stay
  literal exactly like Template.safe_substitute).
- ``loader``: the pure string↔string codecs — b64encode/b64decode
  (base64/unbase64) and b16encode/b16decode (hex/unhex); json/yaml/toml
  produce Python objects and stay on the fused-UDF path.
- ``time``: encode/decode for strftime formats made of the common
  directives (%Y %m %d %H %M %S), engine timezone = UTC.
- ``json`` (jmespath) / ``jsonpath`` on JSON *text* for simple
  dotted identifier paths → get_json_object.

Everything else (css/xml/selectolax — DOM-bound; udf — arbitrary
Python; object-producing loaders; objectpath; context) compiles to
None, as do template/loader steps whose input may be a LIST (Python
maps loaders element-wise and Template str()s the list — a scalar
Column expression would silently diverge; see ``_arr_after``).
"""

from __future__ import annotations

import re as _re
from string import Template
from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

ChainFn = Callable[[Column], Column]

_SLICE_RE = _re.compile(r"^\[(-?\d*):(-?\d*)\]$")
_INDEX_RE = _re.compile(r"^\[(-?\d+)\]$")
_TIME_FMT = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
}


def _java_time_fmt(fmt: str) -> Optional[str]:
    out = ""
    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            rep = _TIME_FMT.get(fmt[i : i + 2])
            if rep is None:
                return None
            out += rep
            i += 2
        elif fmt[i].isalpha():
            # literal letters (e.g. the ISO 'T') must be quoted for the
            # Java formatter; strftime passes them through verbatim
            j = i
            while j < len(fmt) and fmt[j].isalpha():
                j += 1
            out += "'" + fmt[i:j] + "'"
            i = j
        elif fmt[i].isdigit():
            return None  # literal digits inside a timestamp are ambiguous
        else:
            out += fmt[i]
            i += 1
    return out


def _compile_re(param: str, value: str) -> Optional[ChainFn]:
    if value == "":
        if "(" in param:
            # Python findall returns GROUPS when the pattern has any;
            # group 0 extraction would diverge — stay conservative
            return None
        return lambda c: F.regexp_extract_all(c, F.lit(param), F.lit(0))
    if value.startswith("$"):
        try:
            group = int(value[1:])
        except ValueError:
            return None
        return lambda c: F.regexp_extract_all(c, F.lit(param), F.lit(group))
    if value.startswith("#"):
        try:
            group = int(value[1:])
        except ValueError:
            return None
        return lambda c: F.regexp_extract(c, param, group)
    if value.startswith("@"):
        repl = value[1:]
        if "\\" in repl or "$" in repl:
            return None  # Java/Python backreference syntax differs
        return lambda c: F.regexp_replace(c, param, repl)
    if value == "-":
        # Spark's split with limit -1 keeps trailing empties exactly
        # like Python re.split.  Remaining divergences: capturing
        # groups (Python interleaves them into the result) and
        # zero-width-matching patterns (engines disagree on empty
        # matches) — reject both.
        try:
            rx = _re.compile(param)
        except _re.error:
            return None
        if rx.groups > 0 or rx.search("") is not None:
            return None
        return lambda c: F.split(c, param, -1)
    return None


def _compile_python(param: str, value: str) -> Optional[ChainFn]:
    if param == "split":
        if not value:
            # Python str.split(None): strip, split on whitespace runs,
            # [] for empty/whitespace-only input (where Spark's
            # split(trim(c)) would yield [''])
            return lambda c: F.when(
                F.trim(c) == "", F.array().cast("array<string>")
            ).otherwise(F.split(F.trim(c), r"\s+"))
        return lambda c: F.split(c, "\\Q" + value + "\\E")
    if param == "join":
        return lambda c: F.array_join(c, value)
    if param == "strip":
        if value:
            return lambda c: F.btrim(c, F.lit(value))
        return lambda c: F.trim(c)
    if param in ("getitem", "get"):
        m = _SLICE_RE.match(value or "")
        if m:
            start_s, stop_s = m.groups()
            if (start_s and start_s.startswith("-")) or (stop_s and stop_s.startswith("-")):
                return None  # negative slice bounds: keep subset simple
            start = int(start_s) if start_s else 0
            if stop_s == "":
                return lambda c: F.slice(c, start + 1, F.greatest(F.size(c) - start, F.lit(0)))
            stop = int(stop_s)
            if stop <= start:
                return lambda c: F.array().cast("array<string>")
            return lambda c: F.slice(c, start + 1, stop - start)
        m = _INDEX_RE.match(value or "")
        if m:
            idx = int(m.group(1))
            # element_at is 1-based; negative indexes count from the end;
            # try_ variant: out-of-bounds -> null (ANSI element_at throws)
            return lambda c: F.try_element_at(c, F.lit(idx + 1 if idx >= 0 else idx))
        return None
    if param == "sort":
        asc = (value or "").lower() != "desc"
        return lambda c: F.sort_array(c, asc=asc)
    if param == "chain":
        return lambda c: F.flatten(c)
    if param == "const":
        if value:
            return lambda c: F.lit(value)
        return lambda c: c
    if param == "base64_encode":
        return _b64_encode
    if param == "base64_decode":
        return lambda c: F.decode(F.unbase64(c), "utf-8")
    if param == "template":
        return _compile_template(value)
    return None



def _b64_encode(c: Column) -> Column:
    # Spark's base64 MIME-chunks long output with \r\n every 76 chars;
    # Python's b64encode never does — strip the breaks for parity
    return F.regexp_replace(F.base64(F.encode(c, "utf-8")), "[\\r\\n]", "")


def _compile_template(value: str) -> Optional[ChainFn]:
    """``python template`` → format_string: $input_object/$obj (and the
    braced forms) become %s slots bound to the chain column; unknown
    names and invalid $-sequences stay literal, matching
    ``Template.safe_substitute``; $$ unescapes to $."""
    fmt_parts: List[str] = []
    n_args = 0
    pos = 0
    for m in Template.pattern.finditer(value):
        fmt_parts.append(value[pos : m.start()].replace("%", "%%"))
        pos = m.end()
        name = m.group("named") or m.group("braced")
        if m.group("escaped") is not None:
            fmt_parts.append("$")
        elif name in ("input_object", "obj"):
            fmt_parts.append("%s")
            n_args += 1
        else:
            fmt_parts.append(m.group(0).replace("%", "%%"))
    fmt_parts.append(value[pos:].replace("%", "%%"))
    fmt = "".join(fmt_parts)
    if n_args == 0:
        return lambda c: F.lit(fmt.replace("%%", "%"))
    return lambda c: F.format_string(fmt, *([c] * n_args))


def _compile_loader(param: str, value: str) -> Optional[ChainFn]:
    if value:
        return None  # loader kwargs (JSON-decoded) need the Python path
    if param == "b64encode":
        return _b64_encode
    if param == "b64decode":
        return lambda c: F.decode(F.unbase64(c), "utf-8")
    if param == "b16encode":
        return lambda c: F.hex(F.encode(c, "utf-8"))
    if param == "b16decode":
        return lambda c: F.decode(F.unhex(c), "utf-8")
    return None  # json/yaml/toml load to Python objects


_JSON_PATH_RE = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")


def _compile_jsonish(param: str, value: str, parser: str) -> Optional[ChainFn]:
    """jmespath ('json') / jsonpath over JSON TEXT for simple dotted
    paths — the get_json_object fast path.  Only valid as the first
    step (input must still be the raw JSON string)."""
    path = param
    if parser == "jsonpath":
        if not path.startswith("$."):
            return None
        path = path[2:]
        if value not in ("", "$value"):
            return None
    if not _JSON_PATH_RE.match(path):
        return None
    return lambda c: F.get_json_object(c, "$." + path)


def _compile_time(param: str, value: str) -> Optional[ChainFn]:
    fmt = _java_time_fmt(value or "%Y-%m-%d %H:%M:%S")
    if fmt is None:
        return None
    if param == "encode":
        return lambda c: F.unix_timestamp(c, fmt).cast("double")
    if param == "decode":
        return lambda c: F.date_format(
            F.to_timestamp(c.cast("double").cast("timestamp")), fmt
        )
    return None


def compile_step(parser: str, param: str, value) -> Optional[ChainFn]:
    value = "" if value is None else str(value)
    if parser == "re":
        return _compile_re(param, value)
    if parser in ("python", "py"):
        return _compile_python(param, value)
    if parser == "time":
        return _compile_time(param, value)
    if parser in ("json", "jmespath", "jsonpath"):
        return _compile_jsonish(param, value, "jsonpath" if parser == "jsonpath" else "jmespath")
    if parser == "loader":
        return _compile_loader(param, value)
    return None


def _arr_after(parser: str, param: str, value: str, was_arr: bool) -> bool:
    """Crude list/scalar tracking through a chain (enough to refuse the
    compiles that would SILENTLY diverge on list inputs)."""
    if parser == "re":
        return value == "" or value.startswith("$") or value == "-"
    if parser in ("python", "py"):
        if param == "split":
            return True
        if param in ("getitem", "get"):
            return bool(_SLICE_RE.match(value or ""))
        if param in ("sort", "chain"):
            return True
        return False
    return False


def compile_chain(chain_rules: Sequence[Sequence]) -> Optional[ChainFn]:
    """Fuse a whole chain into one Column transformation, or None if any
    step is outside the native subset."""
    steps: List[ChainFn] = []
    is_arr = False
    for i, (parser, param, value) in enumerate(chain_rules):
        if parser in ("json", "jmespath", "jsonpath") and i != 0:
            return None  # mid-chain JSON needs a parsed object, not text
        if is_arr and (
            parser == "loader" or (parser in ("python", "py") and param == "template")
        ):
            # Python maps loader element-wise over lists, and Template
            # str()s the whole list — both would silently diverge from
            # the scalar Column expression; refuse the compile.
            return None
        fn = compile_step(parser, param, value)
        if fn is None:
            return None
        steps.append(fn)
        is_arr = _arr_after(parser, param, "" if value is None else str(value), is_arr)

    def run(col: Column) -> Column:
        for fn in steps:
            col = fn(col)
        return col

    return run


def extract_columns(
    df: DataFrame,
    parse_rules: Sequence[dict],
    fallback: bool = True,
) -> DataFrame:
    """Typed-column extraction: one output column per parse rule.

    Native-compilable chains become pure Catalyst expressions (verify
    with .explain — no PythonUDF/ArrowEval nodes); the rest fall back to
    the Python chain executor inside a pandas UDF (or raise when
    ``fallback=False``).  This is the analytics-projection surface; the
    byte-identical nested-JSON surface remains engine.extract.

    Known miss-representation divergence: a native ``getitem [i]``
    compiles to ``try_element_at``, which yields NULL on an
    out-of-bounds index, while the Python chain executor returns the
    IndexError as an error value (error-as-data).  Per-row bounds can't
    be checked at compile time; callers that need the Python error
    surface for possibly-out-of-bounds indexes should run those rules
    through ``engine.extract.extract_pages`` (the differential test in
    tests/test_native.py documents and pins this).
    """
    cols = [F.col("url")]
    pending_fallback: List[dict] = []
    for rule in parse_rules:
        fn = compile_chain(rule["chain_rules"])
        if fn is not None:
            cols.append(fn(F.col("text")).alias(rule["name"]))
        elif fallback:
            pending_fallback.append(rule)
        else:
            raise ValueError(f"rule {rule['name']!r} is not native-expressible")
    out = df.select(*cols) if not pending_fallback else None
    if pending_fallback:
        from pyspark.sql.types import StringType

        from .. import config
        from ..chains import run_chain

        def make_udf(rule: dict):
            chain = rule["chain_rules"]

            @F.pandas_udf(StringType())
            def run(s):  # type: ignore[no-untyped-def]
                return s.map(
                    lambda text: config.json_dumps(run_chain(text, chain), default=repr)
                )

            return run

        for rule in pending_fallback:
            cols.append(make_udf(rule)(F.col("text")).alias(rule["name"]))
        out = df.select(*cols)
    return out
