"""uniparser_spark — a PySpark-native rule-driven crawl/extraction engine.

From-scratch implementation of the query semantics of ClericPy/uniparser
(reference at /root/reference, studied not copied): JSON rule trees
(CrawlerRule/HostRule) compiled into fused, Arrow-vectorized extraction
UDFs over Common-Crawl-style page tables, plus a brand-new distributed
URL frontier (seen-set, politeness, priority scheduling) built on the
DataFrame API.
"""

__version__ = "0.1.0"

from . import _zipcache

_zipcache.install()

from .chains import run_chain, run_crawler_rule, run_parse_rule, run_rule
from .exceptions import InvalidSchemaError, RuleNotFoundError, UnknownParserNameError
from .operators import OPERATORS, apply_operator
from .rules import CrawlerRule, HostRule, JSONRuleStorage, ParseRule
from .urls import canonicalize_url, ensure_request, fix_relative_path, get_host

__all__ = [
    "run_chain",
    "run_crawler_rule",
    "run_parse_rule",
    "run_rule",
    "InvalidSchemaError",
    "RuleNotFoundError",
    "UnknownParserNameError",
    "OPERATORS",
    "apply_operator",
    "CrawlerRule",
    "HostRule",
    "JSONRuleStorage",
    "ParseRule",
    "canonicalize_url",
    "ensure_request",
    "fix_relative_path",
    "get_host",
]
