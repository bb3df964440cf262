"""Anchor-text link extraction — pages table → typed link table.

Bridges the extraction engine and the link-graph analytics
(``graph.py``): one Arrow-batched ``mapInPandas`` walks each page's DOM
(the engine's own ``dom.html`` parser — same tree the rule chains see,
reference parsers.py:222-282 CSS semantics) and emits one row per
``<a href>`` with the resolved absolute target, normalized anchor text,
document order, and the two flags ranking pipelines consume (nofollow,
same-host).  Feeding :func:`link_edges` output into
``graph.pagerank`` / ``graph.link_degrees`` closes the loop:
crawl → link table → priority signal → scheduler.

Scale: HTML crosses into Python exactly once and never shuffles — the
emitted rows are narrow strings/ints; the downstream graph state is
(hash, hash) longs.  Relative-URL resolution is stdlib ``urljoin``
(the same resolution `urls.fix_relative_path` applies inside rule
chains).
"""

from __future__ import annotations

import re
from typing import List
from urllib.parse import urljoin

from pyspark.sql import DataFrame, functions as F

from ..engine.rows import map_rows

LINKS_SCHEMA = (
    "src string, dst string, anchor string, link_idx int, "
    "nofollow int, internal int"
)

_WS = re.compile(r"\s+")
_HOST = re.compile(r"^https?://([^/?#:]+)", re.I)


def _page_links(src: str, markup) -> List[tuple]:
    from ..dom.html import markup_text, parse_html

    src_host = m.group(1).lower() if (m := _HOST.match(src)) else ""
    out: List[tuple] = []
    idx = 0
    for el in parse_html(markup_text(markup)).iter_elements():
        if el.tag != "a":
            continue
        href = el.get("href")
        if href is None or href == "" or href.startswith(("#", "javascript:")):
            continue
        dst = urljoin(src, href)
        rel = el.get("rel") or ""
        if isinstance(rel, list):  # html LIST_ATTRS expose rel as tokens
            rel = " ".join(rel)
        nofollow = int("nofollow" in rel.lower().split())
        dst_host = m.group(1).lower() if (m := _HOST.match(dst)) else ""
        anchor = _WS.sub(" ", el.text).strip()
        out.append((src, dst, anchor, idx, nofollow, int(dst_host == src_host)))
        idx += 1
    return out


def links_from_html(pages: DataFrame) -> DataFrame:
    """Pages → (src, dst, anchor, link_idx, nofollow, internal).

    ``html`` may be string or binary (utf-8 decoded with replace —
    the pages-table contract).  Fragment-only and ``javascript:`` hrefs
    are skipped (not navigation); everything else resolves against the
    page URL, so relative, root-relative and protocol-relative links
    all land absolute.  ``link_idx`` is document order — the crawl
    frontier's ``list_index`` analog for link-discovery seeding.
    """
    cols = pages.select(
        F.col("url").alias("src"), F.col("html").alias("markup")
    )
    return map_rows(cols, LINKS_SCHEMA, _page_links)


def link_edges(
    links: DataFrame,
    follow_only: bool = True,
) -> DataFrame:
    """Link table → (src, dst) LONG edge list for ``graph.pagerank`` /
    ``link_degrees``: node id = xxhash64 of the canonical-ish lowered
    URL (deterministic, no global id assignment — the same
    hash-as-identity device as the frontier's url_hash).  Self-loops
    and (by default) nofollow edges are dropped, parallel edges
    collapse to one."""
    e = links
    if follow_only:
        e = e.filter(F.col("nofollow") == 0)
    src = F.xxhash64(F.lower(F.col("src")))
    dst = F.xxhash64(F.lower(F.col("dst")))
    return (
        e.select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def anchor_text_index(links: DataFrame) -> DataFrame:
    """The classic anchor-text index: what the web SAYS about each URL
    (anchor text is the strongest relevance signal a crawler owns —
    it describes the target, not the source).

    Per target: total in-link count (``in_links``), distinct source
    count (``n_src``), the link count covered by the top anchors
    (``top_anchor_links``), and the 2 most common non-empty
    anchors (count desc, text asc — fully deterministic).  Two-phase
    count on (dst, anchor) → per-dst top-k via min-heap-shaped window
    (Spark plans a map-side WindowGroupLimit under rank ≤ k, so the
    shuffle carries at most k rows per (dst, partition)) → one final
    per-dst fold, joined with the per-dst totals (both sides already
    hash-partitioned on dst, so the join adds no extra shuffle under
    AQE).  Nofollow links are excluded (they explicitly disclaim
    endorsement).
    """
    from pyspark.sql import Window

    base = links.filter((F.col("nofollow") == 0) & (F.col("anchor") != ""))
    totals = base.groupBy("dst").agg(
        F.count(F.lit(1)).alias("in_links"),
        F.countDistinct("src").alias("n_src"),
    )
    counts = base.groupBy("dst", "anchor").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("dst").orderBy(
        F.col("n").desc(), F.col("anchor").asc()
    )
    topk = counts.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= 2
    )
    folded = (
        topk.groupBy("dst")
        .agg(
            F.sum("n").alias("top_anchor_links"),
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.lpad(F.col("_rk").cast("string"), 2, "0"),
                            F.lit(":"),
                            F.col("anchor"),
                        )
                    )
                ),
                "|",
            ).alias("top_anchors"),
        )
    )
    return folded.join(totals, "dst").select(
        "dst", "in_links", "n_src", "top_anchor_links", "top_anchors"
    )


def host_graph(links: DataFrame) -> DataFrame:
    """Domain-level link graph: (src_host, dst_host, n_links,
    n_nofollow) — the rollup site-level authority/spam analyses run on
    (host graphs are ~10^4× smaller than page graphs, so iterative
    algorithms that are too wide at page level run comfortably here).
    Self-edges (internal links) are kept and flagged; one two-phase
    aggregate on the narrow host pair."""
    src_host = F.lower(F.regexp_extract(F.col("src"), r"(?i)^https?://([^/?#:]+)", 1))
    dst_host = F.lower(F.regexp_extract(F.col("dst"), r"(?i)^https?://([^/?#:]+)", 1))
    return (
        links.select(
            src_host.alias("src_host"),
            dst_host.alias("dst_host"),
            F.col("nofollow"),
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum("nofollow").cast("long").alias("n_nofollow"),
        )
        .withColumn(
            "internal", (F.col("src_host") == F.col("dst_host")).cast("int")
        )
    )


def host_reciprocity(hg: DataFrame) -> DataFrame:
    """Link-farm signal over the host graph: reciprocal link density
    per unordered host pair.  Organic linking is mostly one-way;
    link-exchange schemes produce dense MUTUAL edges, so pairs with
    high ``min(a→b, b→a)`` volume relative to their total are the
    farm candidates a spam pipeline reviews (and TrustRank seeds
    exclude).

    Input: :func:`host_graph` output.  External pairs only (self-edges
    are internal navigation, not exchange).  Output one row per
    unordered pair with ``n_ab >= 2`` or ``n_ba >= 2``:
    ``(host_a, host_b, n_ab, n_ba, n_mutual, reciprocity)`` where
    hosts are ordered ``host_a < host_b``, ``n_mutual = min`` of the
    two directions (0 when one-way) and ``reciprocity =
    2·n_mutual/(n_ab+n_ba) ∈ [0,1]`` (1 = perfectly balanced
    exchange).

    Scale shape: the host graph is the ~10^4×-reduced rollup, and the
    pairing is ONE map-side-combined groupBy on the canonically
    ordered pair key (no self-join: each directed edge contributes to
    its unordered pair's forward or reverse counter by comparison) —
    narrow (host_a, host_b, cnt, cnt) rows only.
    """
    ext = hg.filter(F.col("src_host") != F.col("dst_host"))
    a_first = F.col("src_host") < F.col("dst_host")
    keyed = ext.select(
        F.when(a_first, F.col("src_host")).otherwise(F.col("dst_host"))
        .alias("host_a"),
        F.when(a_first, F.col("dst_host")).otherwise(F.col("src_host"))
        .alias("host_b"),
        F.when(a_first, F.col("n_links")).otherwise(F.lit(0)).alias("fwd"),
        F.when(a_first, F.lit(0)).otherwise(F.col("n_links")).alias("rev"),
    )
    agg = keyed.groupBy("host_a", "host_b").agg(
        F.sum("fwd").cast("long").alias("n_ab"),
        F.sum("rev").cast("long").alias("n_ba"),
    )
    mutual = F.least(F.col("n_ab"), F.col("n_ba"))
    return (
        agg.filter(
            (F.col("n_ab") >= 2) | (F.col("n_ba") >= 2)
        )
        .select(
            "host_a",
            "host_b",
            "n_ab",
            "n_ba",
            mutual.alias("n_mutual"),
            F.round(
                2.0
                * mutual.cast("double")
                / (F.col("n_ab") + F.col("n_ba")).cast("double"),
                4,
            ).alias("reciprocity"),
        )
    )


def link_spam_signals(
    links: DataFrame,
    min_out: int = 1,
) -> DataFrame:
    """Per-PAGE outlink profile over the harvested link relation
    (:func:`links_from_html` output or any (src, dst, anchor,
    nofollow, internal) table): the row a link-farm detector reads —
    a page whose outlinks are mostly external, concentrated on few
    hosts, under one repeated anchor is selling links, whatever its
    PageRank says.

    Columns per src:

    - ``n_out``, ``frac_nofollow``, ``frac_external``;
    - ``n_ext_hosts`` (distinct external destination hosts) and
      ``ext_concentration`` = (n_external - n_ext_hosts) /
      n_external in [0, 1) — 40 external links to 2 hosts
      concentrates, 40 links to 40 hosts doesn't;
    - ``top_anchor_share`` = most-common normalized anchor count /
      n_out;
    - ``farm_score`` = round(frac_external *
      greatest(top_anchor_share, ext_concentration), 6) — both
      factors rational, bounded, monotone in the suspicious
      direction.

    Scale shape: one groupBy(src, anchor) for the repetition signal
    (map-side combined — anchors repeat, that's the point) feeding a
    max per src, joined with the main groupBy(src) aggregate
    (countDistinct external host is the widest part; at production
    scale swap the HLL sketch in).  Page bytes never shuffle —
    inputs are already the narrow harvested rows.
    """
    ext_host = F.when(
        F.col("internal") == 0,
        F.lower(F.regexp_extract(F.col("dst"), r"^https?://([^/?#:]+)", 1)),
    )
    base = links.select(
        "src",
        F.col("nofollow").cast("long").alias("nofollow"),
        (1 - F.col("internal").cast("long")).alias("external"),
        ext_host.alias("ext_host"),
        F.trim(F.lower(F.col("anchor"))).alias("anchor_norm"),
    )
    per_src = base.groupBy("src").agg(
        F.count(F.lit(1)).alias("n_out"),
        F.sum("nofollow").alias("_nf"),
        F.sum("external").alias("n_external"),
        F.countDistinct("ext_host").alias("n_ext_hosts"),
    )
    top_anchor = (
        base.groupBy("src", "anchor_norm")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("src")
        .agg(F.max("_c").alias("_top"))
    )
    conc = F.when(
        F.col("n_external") > 0,
        (F.col("n_external") - F.col("n_ext_hosts"))
        / F.col("n_external").cast("double"),
    ).otherwise(F.lit(0.0))
    share = F.col("_top") / F.col("n_out").cast("double")
    frac_ext = F.col("n_external") / F.col("n_out").cast("double")
    return (
        per_src.join(top_anchor, "src")
        .filter(F.col("n_out") >= min_out)
        .select(
            "src",
            "n_out",
            F.round(F.col("_nf") / F.col("n_out").cast("double"), 6).alias(
                "frac_nofollow"
            ),
            F.round(frac_ext, 6).alias("frac_external"),
            "n_ext_hosts",
            F.round(conc, 6).alias("ext_concentration"),
            F.round(share, 6).alias("top_anchor_share"),
            F.round(frac_ext * F.greatest(share, conc), 6).alias("farm_score"),
        )
    )
