"""Single-core, in-process split of ``parse_one`` into its layers.

Runs on a sample of the workload's own pages in the benchmark process
(no Spark), so the per-row Python work of the extraction UDF is measured
apart from the Arrow crossing and the Spark plumbing around it:

- ``parse_one`` untimed warm-up pass, then the median of ``PASSES``
  plain passes gives single-core pages/s;
- ``PASSES`` instrumented passes put a span around every call into
  ``RuleSet.find`` (dispatch), ``run_crawler_rule`` (chains),
  ``parse_html`` (DOM build), ``Element.select``/``select_one``
  (selector) and ``config.json_dumps`` (encode); each layer reports its
  median pass.  ``chains.chain_us`` is the self time of
  ``run_crawler_rule``: its span minus the DOM builds and selects inside
  it;
- one untimed pass counts the elements built and selected.
"""

from __future__ import annotations

import statistics
import time
from contextlib import ExitStack
from typing import Sequence, Tuple

from .spans import Tracer, patched, spanned

PASSES = 3  # plain and instrumented passes; each reports its median


def _instrumented(tracer: Tracer) -> ExitStack:
    """Spans around the layer calls ``parse_one`` makes."""
    from uniparser_spark import chains, config, operators
    from uniparser_spark.dom.nodes import Element
    from uniparser_spark.engine import extract

    stack = ExitStack()
    stack.enter_context(patched(extract.RuleSet, "find", spanned(tracer, "extract.dispatch")))
    stack.enter_context(patched(extract, "run_crawler_rule", spanned(tracer, "chains.run_crawler_rule")))
    stack.enter_context(patched(config, "json_dumps", spanned(tracer, "config.json_dumps")))
    for module in (operators, chains):
        stack.enter_context(patched(module, "parse_html", spanned(tracer, "dom.parse_html")))
    for method in ("select", "select_one"):
        stack.enter_context(patched(Element, method, spanned(tracer, "dom.select")))
    return stack


def _counted(counts: dict) -> ExitStack:
    """Counts elements built by ``parse_html`` and returned by the
    selectors (an untimed pass: counting inside a timed one would bill
    it to the caller's span)."""
    from uniparser_spark import chains, operators
    from uniparser_spark.dom.nodes import Element

    def parse_factory(fn):
        def parse_html(*args, **kwargs):
            dom = fn(*args, **kwargs)
            counts["built"] += sum(1 for _ in dom.iter_elements())
            return dom

        return parse_html

    def select_factory(fn):
        def select(self, selector):
            found = fn(self, selector)
            counts["matched"] += len(found) if isinstance(found, list) else int(found is not None)
            return found

        return select

    stack = ExitStack()
    for module in (operators, chains):
        stack.enter_context(patched(module, "parse_html", parse_factory))
    for method in ("select", "select_one"):
        stack.enter_context(patched(Element, method, select_factory))
    return stack


def parse_layers(sample: Sequence[Tuple[str, str, str]], tracer: Tracer) -> dict:
    """``sample``: (storage_json, url, body) triples.  Returns the
    per-page layer times in microseconds, counts and shares."""
    from uniparser_spark.engine.extract import compile_ruleset, parse_one

    rows = [(compile_ruleset(s), url, body) for s, url, body in sample]
    n = len(rows)
    for ruleset, url, body in rows:  # warm: selector/regex compile caches
        parse_one(ruleset, url, body)
    passes = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for ruleset, url, body in rows:
            parse_one(ruleset, url, body)
        passes.append(time.perf_counter() - t0)
    plain_s = statistics.median(passes)

    loops = []
    for _ in range(PASSES):
        with tracer.span("micro.parse_one", pages=n) as loop, _instrumented(tracer):
            for ruleset, url, body in rows:
                with tracer.span("extract.parse_one"):
                    parse_one(ruleset, url, body)
        loops.append(loop)
    counts = {"built": 0, "matched": 0}
    with _counted(counts):
        for ruleset, url, body in rows:
            parse_one(ruleset, url, body)

    def per_page_us(name: str, self_time: bool = False) -> float:
        """Median over the instrumented passes of the per-page time."""
        totals = [tracer.self_total(name, lp) if self_time else tracer.total(name, lp)
                  for lp in loops]
        return statistics.median(totals) / n * 1e6

    parse_one_us = plain_s / n * 1e6
    out = {
        "pages": n,
        "parse_one_us": parse_one_us,
        "parse_one_pages_per_s": n / plain_s,
        "parse_one_passes_s": passes,
        "instrumented_parse_one_us": per_page_us("extract.parse_one"),
        "dispatch_us": per_page_us("extract.dispatch"),
        "parse_html_us": per_page_us("dom.parse_html"),
        "select_us": per_page_us("dom.select"),
        "chain_us": per_page_us("chains.run_crawler_rule", self_time=True),
        "json_encode_us": per_page_us("config.json_dumps"),
        "nodes_per_page": counts["built"] / n,
        "useful_node_ratio": counts["matched"] / counts["built"] if counts["built"] else 0.0,
    }
    out["parse_share"] = out["parse_html_us"] / parse_one_us
    parts = ("dispatch_us", "parse_html_us", "select_us", "chain_us", "json_encode_us")
    # the layers measured inside one parse_one, against an uninstrumented
    # parse_one: 1.0 means the split accounts for all of it
    out["parts_over_parse_one"] = sum(out[p] for p in parts) / parse_one_us
    return out


def layer_metrics(m: dict) -> dict:
    """The per-layer metrics :func:`parse_layers` feeds."""
    return {
        "extract.parse_one_pages_per_s": m["parse_one_pages_per_s"],
        "extract.parse_one_us": m["parse_one_us"],
        "extract.dispatch_us": m["dispatch_us"],
        "dom.parse_html_us": m["parse_html_us"],
        "dom.select_us": m["select_us"],
        "dom.parse_share": m["parse_share"],
        "dom.nodes_per_page": m["nodes_per_page"],
        "dom.useful_node_ratio": m["useful_node_ratio"],
        "chains.chain_us": m["chain_us"],
        "config.json_encode_us": m["json_encode_us"],
    }
