"""Fused-scanner ↔ stdlib-builder parity.

The fused scanner behind ``parse_html`` must build the identical DOM to
the stdlib html.parser builder (``_parse_std``) for everything the
engine can encounter: the golden-fixture corpus, the synthetic crawl
corpus, and adversarial edge strings — including unterminated tails
under nested open elements, where the scanner hands its live stack to
the stdlib builder.  Identity is checked structurally (tag/attrs/text
tree), not just serialization."""

import pytest

from uniparser_spark.dom.html import _parse_std, parse_html
from uniparser_spark.dom.nodes import Comment, Element, Text
from uniparser_spark.testgen import detail_html, host_name, list_html

from fixtures import HTML as GOLDEN_HTML


def tree(node):
    if isinstance(node, Text):
        return ("#text", node.data)
    if isinstance(node, Comment):
        return ("#comment", node.data)
    assert isinstance(node, Element)
    return (node.tag, node.attrs, [tree(c) for c in node.children])


EDGES = [
    "",
    "plain text only",
    "a < b and c > d",
    "<p>unclosed",
    "<p>one<p>two<p>three",
    "<ul><li>a<li>b</ul>",
    "<table><tr><td>1<td>2<tr><td>3</table>",
    '<a href="/x?a=1&amp;b=2">link &amp; text</a>',
    "<div class='single'>sq</div>",
    "<input type=checkbox checked>",
    "<img src=/pic.png alt='a b'/>",
    "<br/><br /><hr>",
    "<!-- a comment --><p>after</p>",
    "<!-- unterminated comment",
    "<!DOCTYPE html><html><body>x</body></html>",
    "<?php echo 1; ?><p>pi</p>",
    "<script>if (a < b && c > d) { x('</span>'); }</script><p>after</p>",
    "<style>a > b { color: red; }</style>",
    "<script>unterminated raw",
    "<SPAN CLASS='UP'>MiXeD</SPAN>",
    "<a href='</a>'>tricky attr</a>",
    "<p title=\"has > inside\">gt in attr</p>",
    "<em>&lt;escaped&gt; &amp; entities &#65; &#x42;</em>",
    "<a data-x>bare</a>",
    "<a b=>empty unquoted</a>",
    "<div><span>nest</div>close-outer</span>",
    "text &unknownentity; more",
    "<p>trailing <",
    "<p>lone </ bogus end>tail</p>",
    "<td rowspan=2 colspan='3'>cell</td>",
    # EOF tails handed to the stdlib builder with nested open elements
    "<table><tr><td>1<td>2<!-- open",
    "<ul><li>a<li>b<a href='x",
    "<div><p>x<p>y<![0",
    "<div><section><p>deep <b>bold<?pi",
    "<ol><li><span>s</span><li><em>e<!DOCTYPE",
    "<div><dl><dt>t<dd>d</x junk",
]


def _parity(markup):
    assert tree(parse_html(markup)) == tree(_parse_std(markup))


_MARKED_EDGES = [
    # _markupbase crash modes (AssertionError on '<![0', unknown-keyword
    # error paths) and the ']]>'-vs-']>' close divergence — all pinned
    # by the stdlib builder's parse_marked_section to the scanner's ']>' rule
    "<![0",
    "<![",
    "<![CDATA[x",
    "a<![0>b",
    "<![foo]>x",
    "<![CDATA[a]>b]]>",
    "<![CDATA[x]]>t",
    "<![if !IE]>x<![endif]>y",
    "<p>hello<![0",
]


@pytest.mark.parametrize("markup", _MARKED_EDGES)
def test_marked_section_edges_never_crash(markup):
    _parity(markup)


@pytest.mark.parametrize("markup", EDGES)
def test_edges_parity(markup):
    _parity(markup)


def test_golden_fixture_parity():
    _parity(GOLDEN_HTML)


def test_synthetic_corpus_parity():
    host = host_name(0)
    for k in range(25):
        _parity(detail_html(host, k))
    _parity(list_html(host, 40))


def test_selection_on_fast_dom():
    doc = parse_html('<div><a class="x" href="/a">A</a><a href="/b">B</a></div>')
    assert [a.get("href") for a in doc.select("a")] == ["/a", "/b"]
    assert doc.select_one("a.x").text == "A"


# ---------------------------------------------------------- property fuzz
try:
    from hypothesis import given, settings, strategies as st

    _frag = st.one_of(
        st.sampled_from(
            [
                "<div>", "</div>", "<p>", "</p>", "<a href='x'>", "<a href=\"y\">",
                "<br/>", "<br />", "<img src=z>", "<span class='c d'>", "</span>",
                "<!-- c -->", "<!--", "-->", "<ul><li>", "</li></ul>",
                "<script>", "</script>", "<style>", "</style>",
                "<td>", "<tr>", "<table>", "</table>", "<input checked>",
                "&amp;", "&lt;", "&#65;", "&unknown;", "<", ">", "</", "<!",
                "<?pi ?>", "<!DOCTYPE html>", "<a b=>", "<a b", "=c>", "'", '"',
            ]
        ),
        st.text(
            alphabet=st.characters(
                codec="ascii", categories=("L", "N", "P", "Z")
            ),
            max_size=12,
        ),
    )
    _soup = st.lists(_frag, max_size=30).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(_soup)
    def test_fuzz_tokenizer_parity(markup):
        _parity(markup)

except ImportError:  # pragma: no cover
    pass
