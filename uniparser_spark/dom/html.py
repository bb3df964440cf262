"""HTML parsing to the mini-DOM.

Two paths build the same tree.  ``_fused_parse`` is the production
scanner: one loop that tokenizes and builds the DOM with no per-node
callbacks.  ``_StdBuilder`` drives stdlib ``html.parser`` and builds the
tree in its handlers; it is the behavioral reference that
tests/test_dom_parity.py compares the scanner against, and it finishes
any unterminated construct the scanner meets at EOF, so every EOF flush
quirk matches stdlib exactly.

Behavioral contract: the golden values of the reference CSS/selectolax
parser tests (/root/reference/test_parsers.py:170-305) — attribute
order preserved from source, comments kept as nodes, ``.text`` skips
comments, implied end tags for the common block/table/list cases.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser as _StdHTMLParser
from typing import List, Optional, Tuple

from .nodes import Comment, Element, Text

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Starting one of these while a <p> is the innermost open element
# implicitly closes the <p> (HTML5 parsing rules, common subset).
_P_CLOSING = frozenset(
    "address article aside blockquote details div dl fieldset figcaption "
    "figure footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p "
    "pre section table ul".split()
)

# tag -> set of sibling tags whose start implies this tag's end
_SIBLING_CLOSERS = {
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "td": frozenset({"td", "th", "tr"}),
    "th": frozenset({"td", "th", "tr"}),
    "tr": frozenset({"tr"}),
    "option": frozenset({"option"}),
}

_TAG_RE = re.compile(
    r"<([a-zA-Z][-.:0-9a-zA-Z]*)"  # tag name
    r"((?:\s+[^\s/>=]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>]*))?)*)"  # attrs
    r"\s*(/?)\s*>"
)
_ATTR_RE = re.compile(
    r"([^\s/>=]+)(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?"
)
_END_RE = re.compile(r"</\s*([a-zA-Z][-.:_0-9a-zA-Z]*)\s*>")
_TOLERANT_NAME = re.compile(r"([a-zA-Z][-.:_0-9a-zA-Z]*)")

# script/style content is raw text: scan for the closing tag literally
_RAW_END = {
    tag: re.compile(rf"</\s*{tag}(?=[\s/>])|</\s*{tag}\s*>", re.IGNORECASE)
    for tag in ("script", "style")
}

# stdlib allows whitespace between the closing dashes and '>'
_COMMENT_CLOSE = re.compile(r"--\s*>")


class HtmlElement(Element):
    __slots__ = ()
    VOID = VOID_ELEMENTS
    LIST_ATTRS = frozenset({"class", "rel", "accept-charset"})


class HtmlDocument(HtmlElement):
    """Root container; serializes as its children only."""

    __slots__ = ()

    def serialize(self) -> str:
        return self.inner()


class _StdBuilder(_StdHTMLParser):
    """stdlib tokenizer building the DOM onto ``stack`` (its open
    elements, ``stack[0]`` the root).  A fresh stack makes it the parity
    reference; the fused parse's live stack makes it that parse's EOF
    tail."""

    def __init__(self, stack: List[HtmlElement]):
        super().__init__(convert_charrefs=True)
        self.stack = stack

    def parse_marked_section(self, i: int, report: int = 1) -> int:
        # CPython's _markupbase raises on '<![' with no valid section name
        # ('<![0', real-web garbage) or an unknown keyword, and closes on
        # the looser ']\s*]\s*>'.  Use the scanner's rule instead: consume
        # to the next ']>' emitting nothing, drop an unterminated section.
        j = self.rawdata.find("]>", i + 3)
        return len(self.rawdata) if j < 0 else j + 2

    def _implied_end(self, tag: str) -> None:
        cur = self.stack[-1].tag
        if tag in _P_CLOSING and cur == "p":
            self.stack.pop()
        else:
            closers = _SIBLING_CLOSERS.get(cur)
            if closers and tag in closers:
                self.stack.pop()

    def handle_starttag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]):
        self._implied_end(tag)
        el = HtmlElement(tag, attrs)
        self.stack[-1].append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]):
        self._implied_end(tag)
        self.stack[-1].append(HtmlElement(tag, attrs))

    def handle_endtag(self, tag: str):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignored

    def handle_data(self, data: str):
        self.stack[-1].append(Text(data))

    def handle_comment(self, data: str):
        self.stack[-1].append(Comment(data))


def _std_feed(markup: str, stack: List[HtmlElement]) -> HtmlElement:
    """Parse ``markup`` with the stdlib builder onto ``stack``; returns
    the root."""
    builder = _StdBuilder(stack)
    builder.feed(markup)
    builder.close()
    return stack[0]


def _parse_std(markup: str) -> HtmlDocument:
    """The stdlib reference parse that the fused scanner must match."""
    return _std_feed(markup, [HtmlDocument("[document]")])


def _fused_parse(markup: str) -> HtmlDocument:
    """Fused tokenizer + tree builder: one scan loop constructing the
    DOM directly, with no per-node callback dispatch (a callback builder
    costs ~6 Python calls per node; a 20 KB page has ~800 nodes).
    Node-for-node the same tree as ``_parse_std`` — parity pinned by
    tests/test_dom_parity.py on the golden corpus, edges, and fuzz
    strings.  An unterminated construct at EOF is handed, with the live
    stack, to the stdlib builder (at most once, on a tiny tail)."""
    root = HtmlDocument("[document]")
    stack: List[HtmlElement] = [root]

    # hot-loop locals (LOAD_FAST beats LOAD_GLOBAL ~2×)
    unescape_ = unescape
    Text_, Comment_, El_ = Text, Comment, HtmlElement
    void = VOID_ELEMENTS
    p_closing = _P_CLOSING
    sib_get = _SIBLING_CLOSERS.get
    tag_match = _TAG_RE.match
    attr_finditer = _ATTR_RE.finditer
    end_match = _END_RE.match
    comment_close = _COMMENT_CLOSE.search
    raw_get = _RAW_END.get
    tolerant_match = _TOLERANT_NAME.match
    find = markup.find

    i, n = 0, len(markup)
    while i < n:
        lt = find("<", i)
        if lt < 0:
            text = markup[i:]
            cur = stack[-1]
            cur.children.append(Text_(unescape_(text) if "&" in text else text, cur))
            break
        if lt > i:
            text = markup[i:lt]
            cur = stack[-1]
            cur.children.append(Text_(unescape_(text) if "&" in text else text, cur))
        nxt = markup[lt + 1] if lt + 1 < n else ""
        if nxt == "!":
            if markup.startswith("<!--", lt):
                m = comment_close(markup, lt + 4)
                if m is None:
                    _std_feed(markup[lt:], stack)
                    break
                cur = stack[-1]
                cur.children.append(Comment_(markup[lt + 4 : m.start()], cur))
                i = m.end()
            elif markup[lt : lt + 9].lower() == "<!doctype":
                gt = find(">", lt)
                if gt < 0:
                    _std_feed(markup[lt:], stack)
                    break
                i = gt + 1
            elif markup.startswith("<![", lt):
                end = find("]>", lt + 3)
                if end < 0:
                    _std_feed(markup[lt:], stack)
                    break
                i = end + 2
            else:
                gt = find(">", lt)
                if gt < 0:
                    _std_feed(markup[lt:], stack)
                    break
                cur = stack[-1]
                cur.children.append(Comment_(markup[lt + 2 : gt], cur))
                i = gt + 1
        elif nxt == "/":
            m = end_match(markup, lt)
            if m:
                tag = m.group(1).lower()
                for j in range(len(stack) - 1, 0, -1):
                    if stack[j].tag == tag:
                        del stack[j:]
                        break
                i = m.end()
            elif markup[lt : lt + 3] == "</>":
                i = lt + 3
            else:
                gt = find(">", lt)
                if gt < 0:
                    _std_feed(markup[lt:], stack)
                    break
                nm = tolerant_match(markup, lt + 2)
                if nm:
                    tag = nm.group(1).lower()
                    for j in range(len(stack) - 1, 0, -1):
                        if stack[j].tag == tag:
                            del stack[j:]
                            break
                    gt2 = find(">", nm.end())
                    i = n if gt2 < 0 else gt2 + 1
                else:
                    cur = stack[-1]
                    cur.children.append(Comment_(markup[lt + 2 : gt], cur))
                    i = gt + 1
        elif nxt == "?":
            gt = find(">", lt)
            if gt < 0:
                _std_feed(markup[lt:], stack)
                break
            i = gt + 1
        else:
            m = tag_match(markup, lt)
            if m is None:
                if nxt.isalpha():
                    _std_feed(markup[lt:], stack)
                    break
                cur = stack[-1]
                cur.children.append(Text_("<", cur))
                i = lt + 1
                continue
            tag_src, attrs_src, slash = m.group(1, 2, 3)
            tag = tag_src.lower()
            attrs = []
            if attrs_src:
                for am in attr_finditer(attrs_src):
                    name, q2, q1, bare = am.group(1, 2, 3, 4)
                    value = q2 if q2 is not None else (q1 if q1 is not None else bare)
                    if value is not None and "&" in value:
                        value = unescape_(value)
                    attrs.append((name.lower(), value))
            i = m.end()
            cur = stack[-1]
            ct = cur.tag
            if ct == "p":
                if tag in p_closing:
                    stack.pop()
                    cur = stack[-1]
            else:
                closers = sib_get(ct)
                if closers is not None and tag in closers:
                    stack.pop()
                    cur = stack[-1]
            el = El_(tag, attrs)
            el.parent = cur
            cur.children.append(el)
            if slash:
                continue
            if tag not in void:
                stack.append(el)
            raw_end = raw_get(tag)
            if raw_end is not None:
                em = raw_end.search(markup, i)
                if em is None:
                    break  # stdlib drops unterminated raw-text content
                if em.start() > i:
                    el.children.append(Text_(markup[i : em.start()], el))
                endm = end_match(markup, em.start())
                if endm:
                    tag2 = endm.group(1).lower()
                    for j in range(len(stack) - 1, 0, -1):
                        if stack[j].tag == tag2:
                            del stack[j:]
                            break
                    i = endm.end()
                else:
                    gt = find(">", em.start())
                    for j in range(len(stack) - 1, 0, -1):
                        if stack[j].tag == tag:
                            del stack[j:]
                            break
                    i = n if gt < 0 else gt + 1
    return root


def parse_html(markup: str) -> HtmlDocument:
    """markup → DOM (the fused scanner, ~6× stdlib ``html.parser``)."""
    return _fused_parse(markup)


def markup_text(markup) -> str:
    """A pages-table ``html`` value as str: binary markup is utf-8
    decoded with replace (the pages-table contract), str passes."""
    if isinstance(markup, (bytes, bytearray, memoryview)):
        return bytes(markup).decode("utf-8", errors="replace")
    return markup
