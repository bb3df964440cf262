"""DOM structural fingerprinting: template detection over page shape.

Boilerplate-heavy sites render every page from a handful of templates;
the tag SHAPE of a page (its pre-order element-tag sequence) is a far
stronger template key than any content hash.  Pipelines use it to
cluster pages per host into templates (one extraction rule per
template), to spot template drift (a site redesign silently breaking a
rule — complements engine/health.py's error-rate view with a structural
early warning), and as a cheap layout feature for quality models.

Contract (documented so the DuckDB oracle can predict it on synthesized
pages):

- ``template_fp``: md5 hex of the comma-joined pre-order element-tag
  sequence (the repo's portable hash family — the oracle computes
  ``md5('html,body,div,p,...')`` from the fixture's known shape).
- ``n_nodes``: element count (text/comment nodes excluded).
- ``max_depth``: deepest element's depth, root's children = 1; 0 for a
  page with no elements.
- ``heading_seq``: comma-joined h1–h6 tags in document order (the
  outline shape, e.g. ``h1,h2,h2``); NULL when the page has no
  headings.
- ``n_headings``: length of that sequence.

Spark shape: ONE ``mapInPandas`` crossing, one DOM parse per page, one
explicit-stack pre-order walk (no recursion limit risk on pathological
nesting), narrow output rows.  The per-host template rollup downstream
is a map-side-combinable count on (host, template_fp) — 16-byte keys,
no page bytes in the shuffle.
"""

from __future__ import annotations

import hashlib
from typing import Optional, Tuple

from pyspark.sql import DataFrame

from ..dom.html import parse_html
from ..engine.rows import map_rows
from ..dom.nodes import Element

_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})


def page_structure(html: str) -> Tuple[str, int, int, Optional[str], int]:
    """(template_fp, n_nodes, max_depth, heading_seq, n_headings)."""
    doc = parse_html(html)
    tags = []
    heads = []
    max_depth = 0
    stack = [
        (c, 1)
        for c in reversed([c for c in doc.children if isinstance(c, Element)])
    ]
    while stack:
        el, depth = stack.pop()
        tags.append(el.tag)
        if depth > max_depth:
            max_depth = depth
        if el.tag in _HEADINGS:
            heads.append(el.tag)
        for c in reversed(el.children):
            if isinstance(c, Element):
                stack.append((c, depth + 1))
    fp = hashlib.md5(",".join(tags).encode("utf-8")).hexdigest()
    return (
        fp,
        len(tags),
        max_depth,
        ",".join(heads) if heads else None,
        len(heads),
    )


def template_stats(struct: DataFrame) -> DataFrame:
    """Per-host template census over :func:`dom_structure` output:
    ``(host, n_pages, n_templates, top_fp, top_share)``.  Top template
    under a (count desc, fp asc) total order; share rounded to 4 dp.
    Two map-side-combinable count shuffles on (host, fp) / host."""
    from pyspark.sql import functions as F

    per = struct.groupBy(
        F.col("host"), F.col("template_fp").alias("fp")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        per.groupBy("host")
        .agg(
            F.sum("n").alias("n_pages"),
            F.count(F.lit(1)).alias("n_templates"),
            F.min_by(
                "fp", F.struct((-F.col("n")).alias("a"), F.col("fp"))
            ).alias("top_fp"),
            F.max("n").alias("_top_n"),
        )
        .select(
            "host",
            "n_pages",
            "n_templates",
            "top_fp",
            F.round(F.col("_top_n") / F.col("n_pages"), 4).alias("top_share"),
        )
    )


def dom_structure(df: DataFrame) -> DataFrame:
    """Structural fingerprint per page as one Arrow crossing."""
    schema = (
        "doc_id long, template_fp string, n_nodes int, max_depth int, "
        "heading_seq string, n_headings int"
    )
    return map_rows(
        df.select("doc_id", "html"), schema, lambda i, h: [(i, *page_structure(h))]
    )


def page_tables(html: str) -> list:
    """Extract every ``<table>`` on a page as flat row records:
    ``(table_idx, row_idx, is_header, n_cells, cells)``.

    Semantics (documented so the oracle can predict them on synthesized
    markup):

    - tables are numbered in document (pre-order) order, 0-based;
    - a ``<tr>`` belongs to its NEAREST ancestor table — rows of a
      table nested inside a ``<td>`` never leak into the outer table
      (the walk simply does not descend into nested ``<table>``
      subtrees; the nested table gets its own ``table_idx`` when the
      outer pre-order walk reaches it);
    - ``<thead>``/``<tbody>``/``<tfoot>`` wrappers are transparent:
      any ``tr`` in the subtree counts, in document order, 0-based
      ``row_idx`` per table;
    - cells are the ``th``/``td`` DIRECT element children of the row
      (per the HTML content model); ``is_header`` = 1 when the row has
      cells and every cell is a ``th``;
    - cell text is the descendant text with whitespace collapsed to
      single spaces and trimmed, ``|``-joined (a cell containing a
      nested table therefore includes the inner table's text — the
      flat-text contract of ``Element.text``).
    """
    doc = parse_html(html)
    out = []
    tables = [el for el in doc.iter_elements() if el.tag == "table"]
    for t_idx, table in enumerate(tables):
        rows = []
        stack = table.children[::-1]
        while stack:
            node = stack.pop()
            if not isinstance(node, Element):
                continue
            if node.tag == "table":
                continue  # nested table: owns its rows
            if node.tag == "tr":
                rows.append(node)
            if node.children:
                stack.extend(node.children[::-1])
        for r_idx, tr in enumerate(rows):
            cells = [c for c in tr.element_children() if c.tag in ("th", "td")]
            texts = [" ".join(c.text.split()) for c in cells]
            is_header = int(bool(cells) and all(c.tag == "th" for c in cells))
            out.append((t_idx, r_idx, is_header, len(cells), "|".join(texts)))
    return out


def extract_tables(df: DataFrame) -> DataFrame:
    """HTML table extraction: one output row per ``<tr>`` across every
    page — the batch Spark form of the table-scraping rules users write
    against the reference engine one CSS selector at a time.

    Output: (id, table_idx, row_idx, is_header, n_cells, cells); pages
    without tables emit nothing (explode semantics — pair with
    dom_structure for a per-page census).  One DOM parse per page, one
    Arrow crossing, narrow output rows; the downstream relational steps
    (pivoting a header row onto data rows, filtering by table shape)
    are ordinary DataFrame ops on this flat relation.
    """
    schema = (
        "doc_id long, table_idx int, row_idx int, is_header int, "
        "n_cells int, cells string"
    )
    return map_rows(
        df.select("doc_id", "html"),
        schema,
        lambda i, h: [(i, *row) for row in page_tables(h)],
    )
