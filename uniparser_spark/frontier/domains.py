"""Registrable-domain (PLD / eTLD+1) extraction.

Frontier partitioning, politeness budgets, per-site quotas, and the
host graph all want the REGISTRABLE domain, not the raw host:
``news.bbc.co.uk`` and ``www.bbc.co.uk`` are one site (``bbc.co.uk``),
while ``alice.github.io`` and ``bob.github.io`` are two (github.io is
a private registry suffix).  Label-count heuristics get both cases
wrong; the correct unit is longest-match against the Public Suffix
List.

This module ships a deterministic EMBEDDED SUBSET of the public
Mozilla PSL (publicsuffix.org): the most common ccTLD second-level
registries plus the major private hosting suffixes, with the PSL's
default rule (``*`` — unknown TLDs take the last label as the suffix)
as the fallback.  At deployment the full list drops in as data — the
matching operator is list-size-independent (a broadcastable literal
array here; the same longest-match over an exploded suffix chain as
frontier/blocklist.py if the list outgrows a literal).

Semantics (PSL algorithm over the subset):
- longest suffix in the list wins; the PLD is that suffix plus one
  label to its left;
- a host that IS a public suffix (``github.io``) has no registrable
  domain -> NULL;
- unknown TLD -> default rule: suffix = last label, PLD = last two;
- single-label hosts (``localhost``) -> NULL;
- IPv4 literals are their own "domain" (the politeness unit).

Everything is native array expressions (whole-stage codegen, no
Python), mirrored exactly by the DuckDB oracle via
list_transform/list_filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .blocklist import host_suffixes

# Embedded PSL subset — second-level ccTLD registries (ICANN section)
# and widely used private hosting suffixes (PRIVATE section).  Sorted,
# deduplicated; the oracle embeds the identical literal.
MINI_PSL = sorted(
    {
        # ICANN second-level registries
        "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
        "com.au", "net.au", "org.au", "edu.au", "gov.au",
        "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
        "com.br", "net.br", "org.br", "gov.br",
        "com.cn", "net.cn", "org.cn", "gov.cn",
        "co.in", "net.in", "org.in", "firm.in",
        "co.kr", "or.kr", "go.kr",
        "com.mx", "org.mx", "gob.mx",
        "com.ar", "com.tr", "com.tw", "com.sg", "com.hk", "com.my",
        "co.za", "org.za", "co.nz", "net.nz", "org.nz",
        "co.id", "co.th", "com.vn", "com.ua", "com.pl", "net.pl",
        "org.pl",
        # private hosting registries
        "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
        "appspot.com", "netlify.app", "vercel.app", "web.app",
        "pages.dev", "cloudfront.net", "azurewebsites.net",
        "firebaseapp.com", "s3.amazonaws.com",
    }
)

_IPV4_RE = r"^\d{1,3}(\.\d{1,3}){3}$"


def with_registrable_domain(df: DataFrame) -> DataFrame:
    """Append ``public_suffix`` and ``registrable_domain`` columns.

    NULL suffix+domain for single-label hosts; NULL domain (suffix set)
    for hosts that are themselves a public suffix; host==domain with
    NULL suffix for IPv4 literals.
    """
    psl = F.array(*[F.lit(s) for s in MINI_PSL])
    host = F.col("host")
    sufs = host_suffixes(host)  # longest first
    listed = F.filter(sufs, lambda s: F.array_contains(psl, s))
    # longest listed suffix = first element (chain is longest-first);
    # try_element_at: NULL (not an ANSI error) when nothing matched
    matched = F.try_element_at(listed, F.lit(1))
    pos = F.array_position(sufs, matched)  # 1-based; 1 == host itself
    n = F.size(sufs)
    is_ip = host.rlike(_IPV4_RE)
    suffix = F.when(is_ip | (n < 2), F.lit(None).cast("string")).otherwise(
        F.coalesce(matched, F.try_element_at(sufs, n))  # default rule: TLD
    )
    domain = (
        F.when(is_ip, host)
        .when(n < 2, F.lit(None).cast("string"))
        .when(
            matched.isNotNull(),
            # suffix at pos -> PLD one label longer, at pos-1 (NULL when
            # pos == 1, i.e. the host IS the suffix)
            F.when(pos > 1, F.try_element_at(sufs, (pos - 1).cast("int"))),
        )
        .otherwise(F.try_element_at(sufs, (n - 1).cast("int")))
    )
    return df.withColumns(
        {"public_suffix": suffix, "registrable_domain": domain}
    )


def registrable_domain_sql_literal() -> str:
    """The MINI_PSL as a DuckDB list literal (oracle-side mirror)."""
    return "[" + ", ".join("'%s'" % s for s in MINI_PSL) + "]"
