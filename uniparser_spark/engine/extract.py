"""The Spark extraction operator: compiled rule trees over page tables.

``extract_pages(df, storage)`` is the engine's EP2 equivalent
(reference Uniparser.parse, parsers.py:1374-1393) expressed Spark-first:

- rules are a driver-side constant, shipped to executors as the
  serialized storage JSON inside the UDF closure (small: rule trees are
  KBs even for thousands of hosts) and compiled **once per executor
  process** via a module-level memo — the CompiledString analogue
  (parsers.py:980-1003);
- the whole per-page pipeline (rule dispatch → input_callback DOM/JSON
  build → every parse_rule chain) is fused into ONE ``map_rows`` kernel
  (engine/rows.py), so each page crosses the JVM↔Python boundary
  exactly once as an Arrow batch and its DOM is parsed exactly once
  (the reference's parse-once CSE, utils.py:745-803);
- errors are data: a failed page yields an ``error`` column value,
  never a task failure.

Output schema (stable for downstream joins):
    url: string, rule_name: string, result: string (canonical JSON),
    error: string, requests: array<string>  — discovered __request__
    URLs in list order, for the frontier.
"""

from __future__ import annotations

import json
import re
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from .. import config
from ..chains import apply_input_callback, run_crawler_rule
from ..rules import CrawlerRule, HostRule
from ..urls import get_host
from .rows import map_rows

RESULT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("rule_name", StringType(), True),
        StructField("result", StringType(), True),
        StructField("error", StringType(), True),
        StructField("requests", ArrayType(StringType()), True),
    ]
)

# executor-process memo: storage fingerprint -> compiled dispatch table
_COMPILED: Dict[str, "RuleSet"] = {}


def _json_default(obj: Any) -> str:
    # exceptions and DOM nodes inside results serialize as their repr
    return repr(obj)


class RuleSet:
    """host -> [(compiled regex, strategy, CrawlerRule)] dispatch table."""

    def __init__(self, storage_dict: Dict[str, dict]):
        self.by_host: Dict[str, List[Tuple[Optional[re.Pattern], str, CrawlerRule]]] = {}
        for host, host_rule in storage_dict.items():
            if host == "file_path":
                continue
            rules = []
            for cr in HostRule(**host_rule)["crawler_rules"].values():
                pattern = re.compile(cr["regex"]) if cr["regex"] else None
                rules.append((pattern, cr.CHECK_STRATEGY, cr))
            self.by_host[host] = rules

    def find(self, url: str) -> Optional[CrawlerRule]:
        """Reference dispatch: host -> regex match (HostRule.find raises on
        multi-match, parsers.py:1208-1213)."""
        rules = self.by_host.get(get_host(url) or "")
        if not rules:
            return None
        hits = [
            cr
            for pattern, strategy, cr in rules
            if pattern is None or getattr(pattern, strategy)(url)
        ]
        if len(hits) > 1:
            raise ValueError(f"{url} matched more than 1 rule.")
        return hits[0] if hits else None


def compile_ruleset(storage_json: str) -> RuleSet:
    cached = _COMPILED.get(storage_json)
    if cached is None:
        cached = RuleSet(config.json_loads(storage_json))
        _COMPILED[storage_json] = cached
    return cached


def parse_one(
    ruleset: RuleSet, url: str, body: Any
) -> Tuple[Optional[str], Optional[str], Optional[str], Optional[List[str]]]:
    """Run the matching rule for one page.

    Returns (rule_name, result_json, error, requests).
    """
    try:
        rule = ruleset.find(url)
    except ValueError as err:
        return None, None, f"MultiRuleMatch: {err}", None
    if rule is None:
        return None, None, f"RuleNotFoundError: No rule matched the given url: {url}", None
    if body is None:
        # rule resolution precedes the fetch (reference crawler.py:167)
        return rule["name"], None, f"FetchMiss: no page body for {url}", None
    request_args = {"method": rule["request_args"].get("method", "get"), "url": url}
    context = {"request_args": request_args, "url": url}
    try:
        obj = apply_input_callback(body, context, rule.get("input_callback"))
        result = run_crawler_rule(obj, rule, context=context)
    except config.SYSTEM_ERRORS:
        raise
    except Exception as err:  # noqa: BLE001 - page-level error as data
        return rule["name"], None, f"{type(err).__name__}: {err}", None
    payload = result.get(rule["name"], {})
    requests = payload.get(config.REQUEST_KEY)
    if requests is None:
        req_list = None
    elif isinstance(requests, (list, tuple)):
        req_list = [str(u) for u in requests if u]
    else:
        req_list = [str(requests)]
    result_json = config.json_dumps(result, default=_json_default)
    return rule["name"], result_json, None, req_list


def extract_pages(
    df: DataFrame,
    storage: Any,
    url_col: str = "url",
    text_col: str = "text",
    html_col: Optional[str] = None,
    encoding: str = "utf-8",
    passthrough: tuple = (),
) -> DataFrame:
    """pages DataFrame -> extraction results DataFrame.

    Reads ``text_col`` (string) when present and non-null, else decodes
    ``html_col`` (binary) with ``encoding`` — the CrawlerRule-level
    encoding override (reference utils.py:229-240).  Column pruning: only
    the referenced columns are touched, so the parquet scan stays narrow.

    ``passthrough`` columns are carried through the kernel one-to-one
    (every input row yields exactly one output row, a ``DecodeError``
    row included), which lets callers keep frontier metadata attached
    without a post-extraction join.
    """
    storage_json = storage if isinstance(storage, str) else config.json_dumps(storage)
    extra = [
        c for c in passthrough if c not in (url_col, text_col, html_col)
    ]
    cols = [url_col, text_col] + ([html_col] if html_col else []) + extra
    projected = df.select(*cols)
    out_schema = StructType(
        RESULT_SCHEMA.fields
        + [projected.schema[c] for c in extra]
    )

    def page(url, text, *rest):
        html, passed = (rest[0], rest[1:]) if html_col else (None, rest)
        if text is None and html is not None:
            try:
                text = bytes(html).decode(encoding)
            except (UnicodeDecodeError, TypeError) as err:
                return [(url, None, None, f"DecodeError: {err}", None, *passed)]
        return [(url, *parse_one(compile_ruleset(storage_json), url, text), *passed)]

    return map_rows(projected, out_schema, page)
