"""Driver-contract smoke: every queries() entry constructs a DataFrame
against sf0.001 (eager barriers included), oracle keys line up, and
column names agree with what the oracle SQL emits (the driver's compare
sorts columns by name before hashing — a name drift fails the gate even
when values match).

Plan hygiene rides the same pass: NO query may contain a
row-at-a-time Python UDF (BatchEvalPython — Arrow-batched
ArrowEvalPython/MapInPandas are the sanctioned Python paths) or an
unbounded CartesianProduct (broadcast nested-loop against a small
side is the accepted form) — the two anti-patterns that silently
stop surviving a 100x scale-up.

The oracle lane then runs the full value comparison of
``tools/check_oracle.py`` on a fixed sample of queries plus 12 more
drawn each UTC day from the rest, so oracle drift fails here and not
only in the full sweep."""

import inspect
import random
from datetime import datetime, timezone

import pytest

from test_plan_shape import SF_A as SF_DIR  # the sf0.001 test tables
from tools.check_oracle import check, oracle_connection

# Oracles shared with or built from another query's (the _xx twins and
# the dedup_clusters, links, regex and loader aliases), oracles spliced
# from shared fragments (_IPS_SQL, _GRAPH_SQL, _PAGE_SQL, _NORM, the PSL
# list), one query per family, and canonical_docs (the small-graph
# union-find components through select_canonical).  Every query run
# through the shared rule-query runner, every oracle built from the
# shared MinHash-LSH fragment and every query that reaches a row-wise
# pandas kernel is in the lane too.
ORACLE_LANE = (
    "pricing_summary rule_first3 token_stats c4_line_filter pii_redact "
    "dedup_exact multimodal_features spam_mass asn_tag ip_politeness "
    "dedup_verified_pairs_xx minhash_lsh_pairs_xx dedup_clusters_star "
    "dedup_clusters_hashmin stream_links stream_extract stream_host_rates "
    "rule_loader_toml registrable_domains phrase_search canonical_docs "
    "rule_css rule_css1 rule_xpath rule_json rule_time rule_paths "
    "rule_children rule_udf rule_regex_sub rule_python_ops rule_b64 "
    "rule_xml rule_re_modes rule_loader_yaml rule_python_modes "
    "rule_context minhash_lsh_pairs dedup_verified_pairs dedup_clusters "
    "minhash_error ngram_jaccard_pairs simhash_groups simhash_hamming_pairs "
    "containment_pairs doc_fingerprints winnow_fingerprints content_extract "
    "binary_extract links_extract page_directives stream_admission "
    "robots_matrix media_dims dom_structure template_stats html_tables "
    "hreflang_audit microdata page_metadata charset_sniff mojibake_repair "
    "warc_sink_roundtrip"
).split()


def test_suite_contract(spark):
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) == set(qs)

    con = oracle_connection(SF_DIR)
    for name, fn in qs.items():
        df = fn(spark, SF_DIR)
        s_cols = df.columns
        assert s_cols, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: unbounded cartesian"
        d_cols = [
            d[0]
            for d in con.execute(
                f"SELECT * FROM ({oracles[name]}) LIMIT 0"
            ).description
        ]
        assert sorted(s_cols) == sorted(d_cols), name


def test_oracle_lane(spark, capsys):
    """The fixed lane plus a rotation: 12 queries outside it, drawn with
    the UTC date (YYYYMMDD) as the seed, so the whole registry passes
    through Tier-1 over the days.  The seed, the drawn names and the
    command that re-checks them are printed and in the failure."""
    from uniparser_spark.suite import ORACLES, QUERIES

    seed = int(datetime.now(timezone.utc).strftime("%Y%m%d"))
    rotated = random.Random(seed).sample(sorted(set(QUERIES) - set(ORACLE_LANE)), 12)
    note = (
        f"oracle lane rotation seed {seed}: {' '.join(rotated)}\n"
        f"  re-check: python3 tools/check_oracle.py {SF_DIR} {' '.join(rotated)}"
    )
    with capsys.disabled():
        print(f"\n{note}")

    con = oracle_connection(SF_DIR)
    failures = {}
    for name in [*ORACLE_LANE, *rotated]:
        reason = check(spark, con, QUERIES[name], ORACLES[name], SF_DIR)
        if reason:
            failures[name] = reason
    assert not failures, f"{failures}\n{note}"


def test_registry_rejects_a_second_registration():
    from uniparser_spark import suite

    def q_pricing_summary(spark, sf_dir):
        raise AssertionError("never runs")

    before = dict(suite.QUERIES)
    with pytest.raises(ValueError, match="pricing_summary"):
        suite.query("SELECT 1")(q_pricing_summary)
    assert suite.QUERIES == before


def test_every_query_function_is_registered():
    from uniparser_spark import suite

    defined = {
        name.removeprefix("q_")
        for name, fn in vars(suite).items()
        if name.startswith("q_") and inspect.isfunction(fn) and fn.__module__ == suite.__name__
    }
    assert defined == set(suite.QUERIES)
    assert all(suite.QUERIES[n].__name__ == f"q_{n}" for n in defined)
