"""Main-content extraction: readability-style boilerplate removal over
the DOM.

A webtext training pipeline's first transformation after the crawl is
pulling the ARTICLE out of the page — dropping nav bars, sidebars, ad
blocks, and footers (readability / trafilatura / jusText semantics).
The reference engine extracts whatever a hand-written rule selects
(parsers.py CSS chains); this operator is the rule-free complement: a
deterministic text-density heuristic that works on pages nobody wrote a
rule for.

Heuristic (documented so the DuckDB oracle can predict it on synthesized
pages):

1. Parse the page with the in-repo DOM engine (``dom.html.parse_html``,
   the same fused tokenizer the rule engine uses).
2. Score every candidate container (``article``/``main``/``div``/
   ``section``/``td``) by normalized subtree text length minus twice the
   text length under ``<a>`` descendants (link-heavy blocks go
   negative), plus a semantic-tag bonus for ``article``/``main``.
   Candidates inside chrome (``nav``/``header``/``footer``/``aside``)
   are skipped, as is chrome itself.
3. The winner is the highest score, first-in-document-order on ties;
   if nothing scores positive the ``body`` is the fallback.
4. ``main_text`` = the winner's ``<p>`` descendants' whitespace-
   normalized text joined by newlines (block structure preserved — the
   concatenated ``Element.text`` would glue paragraph boundaries
   together); a winner with no paragraphs yields its normalized text.

Spark shape: ONE ``mapInPandas`` crossing over (id, html) — the DOM
never serializes into a shuffle, stats are computed in a single
post-order pass per page (no quadratic re-walk for nested candidates),
and the output rows are narrow (id + extracted text + counters).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame

from ..dom.html import parse_html
from ..engine.rows import map_rows
from ..dom.nodes import Element, Text

CANDIDATE_TAGS = frozenset({"article", "main", "div", "section", "td"})
SEMANTIC_TAGS = frozenset({"article", "main"})
BOILER_TAGS = frozenset({"nav", "header", "footer", "aside", "script", "style"})
SEMANTIC_BONUS = 25
LINK_PENALTY = 2


def _norm(s: str) -> str:
    return " ".join(s.split())


def _subtree_stats(root: Element) -> dict:
    """One post-order pass: id(element) -> (text_len, link_text_len),
    both on whitespace-normalized per-node text."""
    stats: dict = {}

    def walk(el: Element, in_link: bool) -> Tuple[int, int]:
        txt = link = 0
        for child in el.children:
            if isinstance(child, Text):
                n = len(_norm(child.data))
                txt += n
                if in_link:
                    link += n
            elif isinstance(child, Element):
                if child.tag in ("script", "style"):
                    continue
                t, l = walk(child, in_link or child.tag == "a")
                txt += t
                link += l
        stats[id(el)] = (txt, link)
        return txt, link

    walk(root, False)
    return stats


def _in_boiler(el: Element) -> bool:
    node = el.parent
    while node is not None:
        if getattr(node, "tag", None) in BOILER_TAGS:
            return True
        node = node.parent
    return False


def extract_main(html: str) -> Tuple[str, str, int, int]:
    """(main_tag, main_text, n_paras, main_len) for one page."""
    doc = parse_html(html)
    stats = _subtree_stats(doc)
    best = None
    best_score = 0  # fallback to body unless some candidate scores > 0
    for el in doc.iter_elements():
        if el.tag not in CANDIDATE_TAGS or el.tag in BOILER_TAGS:
            continue
        if _in_boiler(el):
            continue
        txt, link = stats[id(el)]
        score = txt - LINK_PENALTY * link
        if el.tag in SEMANTIC_TAGS:
            score += SEMANTIC_BONUS
        if score > best_score:  # strict: first-in-document-order wins ties
            best, best_score = el, score
    if best is None:
        bodies = [e for e in doc.iter_elements() if e.tag == "body"]
        best = bodies[0] if bodies else doc
    paras: List[str] = [
        _norm(p.text) for p in best.iter_elements() if p.tag == "p"
    ]
    main_text = "\n".join(paras) if paras else _norm(best.text)
    return best.tag, main_text, len(paras), len(main_text)


def extract_main_content(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Readability-style main-content extraction as one Arrow crossing.

    Returns (id, main_tag, main_text, n_paras, main_len) per page.
    """
    schema = (
        "doc_id long, main_tag string, main_text string, "
        "n_paras int, main_len int"
    )
    return map_rows(
        df.select("doc_id", html_col), schema, lambda i, h: [(i, *extract_main(h))]
    )
