"""Link-graph analytics: degrees + fixed-iteration PageRank.

Expected values hand-computed in plain Python on a tiny graph; the
DuckDB oracle re-checks the synthesized circulant graph at sf scale.
"""

import pytest
from pyspark.sql import functions as F

from uniparser_spark.graph import link_degrees, pagerank, synth_edges


def _graph(spark):
    # 4 nodes: 0->1, 0->2, 1->2, 2->0, 3->2  (3 has no in-links)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    return edges, nodes


def test_link_degrees(spark):
    edges, nodes = _graph(spark)
    out = {r["node"]: (r["out_deg"], r["in_deg"]) for r in link_degrees(edges, nodes).collect()}
    assert out == {0: (2, 1), 1: (1, 1), 2: (1, 3), 3: (1, 0)}


def _py_pagerank(edges, n, iters=3, d=0.85):
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    ranks = {v: 1.0 / n for v in range(n)}
    for _ in range(iters):
        contrib = defaultdict(float)
        for s, t in edges:
            contrib[t] += ranks[s] / outdeg[s]
        ranks = {v: (1.0 - d) / n + d * contrib[v] for v in range(n)}
    return ranks


def test_pagerank_matches_python_reference(spark):
    edges, nodes = _graph(spark)
    expected = _py_pagerank([(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)], 4)
    got = {r["node"]: r["rank"] for r in pagerank(edges, nodes, 4).collect()}
    for v in range(4):
        assert got[v] == pytest.approx(round(expected[v], 6), abs=1e-9)
    # rank mass is conserved (no dangling nodes except 3's sink-free case)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-3)


def test_synth_edges_drops_self_loops(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    rows = synth_edges(df, 5, fanout=2).collect()
    assert all(r["src"] != r["dst"] for r in rows)
    # v -> (7v+1)%5, (7v+2)%5 == (2v+1)%5, (2v+2)%5; v=2 -> 0,1
    got = sorted((r["src"], r["dst"]) for r in rows)
    assert (2, 0) in got and (2, 1) in got


def test_pagerank_as_frontier_priority(spark):
    """Link-derived authority as the frontier's priority signal: the
    politeness scheduler admits the highest-PageRank URLs per host
    within budget — the wiring a production frontier uses to spend its
    fetch budget on authoritative pages first."""
    from uniparser_spark.frontier.politeness import schedule_batch

    edges, nodes = _graph(spark)
    ranks = pagerank(edges, nodes, 4)
    pending = ranks.select(
        F.concat(F.lit("http://h/p"), F.col("node")).alias("url_canon"),
        F.lit("h").alias("host"),
        F.col("rank").alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovered_round"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("list_index"),
        "node",
    )
    out = schedule_batch(pending, default_budget=2)
    sched = {r["node"] for r in out.collect() if r["scheduled"]}
    rank_map = {r["node"]: r["rank"] for r in ranks.collect()}
    top2 = set(sorted(rank_map, key=lambda v: (-rank_map[v], f"http://h/p{v}"))[:2])
    assert sched == top2


def test_connected_components_hash_min(spark):
    from uniparser_spark.graph import connected_components

    # chain 0-1-2, pair 5-4 (reversed direction), isolated 3
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 4)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    got = {r["node"]: r["comp"] for r in connected_components(edges, nodes).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}


def test_dedup_clusters_keep_flags(spark):
    from uniparser_spark.graph import dedup_clusters

    edges = spark.createDataFrame([(7, 2), (2, 9)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in (2, 3, 7, 9)], "node long")
    rows = {r["doc_id"]: r for r in dedup_clusters(edges, nodes).collect()}
    assert rows[2]["cluster_id"] == 2 and rows[2]["is_canonical"] == 1
    assert rows[7]["cluster_id"] == 2 and rows[7]["is_canonical"] == 0
    assert rows[9]["cluster_id"] == 2 and rows[9]["cluster_size"] == 3
    assert rows[3]["cluster_id"] == 3 and rows[3]["cluster_size"] == 1
    # exactly one canonical per cluster
    assert sum(r["is_canonical"] for r in rows.values()) == 2


def test_connected_components_raises_on_no_convergence(spark):
    from uniparser_spark.graph import connected_components

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iter=1)


def test_select_canonical_quality_ranked(spark):
    from uniparser_spark.graph import dedup_clusters, select_canonical

    edges = spark.createDataFrame([(7, 2), (2, 9)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in (2, 3, 7, 9)], "node long")
    clusters = dedup_clusters(edges, nodes)
    # doc 9 has the best quality in its cluster; 3 is a singleton
    quality = spark.createDataFrame(
        [(2, 0.4), (7, 0.9), (9, 0.9), (3, 0.1)], "doc_id long, quality double"
    )
    rows = {r["doc_id"]: r for r in select_canonical(clusters, quality).collect()}
    # min-id default (2) is overridden; quality tie 7 vs 9 -> smaller id wins
    assert rows[7]["is_canonical"] == 1 and rows[7]["quality"] == 0.9
    assert rows[2]["is_canonical"] == 0 and rows[9]["is_canonical"] == 0
    assert rows[3]["is_canonical"] == 1  # singleton keeps itself
    assert rows[9]["cluster_size"] == 3 and rows[9]["cluster_id"] == 2
    assert sum(r["is_canonical"] for r in rows.values()) == 2


def test_star_contraction_matches_hashmin(spark, monkeypatch):
    """Both paths of connected_components_star — the small-graph
    union-find at the default cap and large-star/small-star contraction
    (the power-law-scale algorithm) at cap 0 — must produce the
    identical (node, comp) labeling as hash-min on random graphs,
    including singletons, chains (worst diameter), and merged star
    shapes."""
    import random

    from uniparser_spark import graph
    from uniparser_spark.graph import connected_components, connected_components_star

    rng = random.Random(42)
    cases = [
        [],                                            # all singletons
        [(i, i + 1) for i in range(20)],               # one long chain
        [(0, i) for i in range(1, 8)] + [(7, 30)],     # star + tail
    ]
    for _ in range(4):                                  # random graphs
        n = 30
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
        )
    for i, pairs in enumerate(cases):
        pairs = [(a, b) for a, b in pairs if a != b]
        nodes = spark.createDataFrame([(j,) for j in range(31)], "node long")
        if pairs:
            edges = spark.createDataFrame(pairs, "src long, dst long")
        else:
            edges = spark.createDataFrame([], "src long, dst long")
        hm = {r["node"]: r["comp"] for r in connected_components(edges, nodes).collect()}
        for cap in (graph.SMALL_GRAPH_EDGES, 0):
            with monkeypatch.context() as mp:
                mp.setattr(graph, "SMALL_GRAPH_EDGES", cap)
                got = connected_components_star(edges, nodes).collect()
            st = {r["node"]: r["comp"] for r in got}
            assert st == hm, f"case {i}, cap {cap}: star != hash-min"


def test_dedup_clusters_default_is_star(spark, monkeypatch):
    """The algorithm a user reaches first must be the O(log n)
    star-contraction path (VERDICT r3: hash-min's diameter-bound rounds
    are the weak plan on power-law graphs).  A diameter-60 chain with
    max_iter=12 converges under star (log2(61) ≈ 6 doubling rounds) but
    CANNOT under hash-min (needs ~60 label-propagation rounds) — so
    convergence itself proves which algorithm ran.  Cap 0 keeps the
    120-edge chain off the small-graph union-find path, which has no
    rounds to bound."""
    from uniparser_spark import graph
    from uniparser_spark.graph import dedup_clusters

    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(61)], "node long")
    out = dedup_clusters(edges, nodes, max_iter=12).collect()
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == 61 for r in out)
    assert sum(r["is_canonical"] for r in out) == 1


def test_reliable_checkpoint_path_resumes(spark, tmp_path, monkeypatch):
    """engine/ckpt.py durable barriers: with a checkpoint dir
    configured, every RELIABLE_INTERVAL-th star round writes a reliable
    checkpoint (files on the checkpoint fs), and the result stays
    recomputable from those files after the local cache is dropped —
    the executor-loss story localCheckpoint alone cannot tell.  Cap 0
    forces the star rounds: the small-graph union-find path takes no
    checkpoint."""
    from uniparser_spark import graph
    from uniparser_spark.engine.ckpt import (
        has_checkpoint_dir,
        reliable_this_round,
        step_checkpoint,
    )
    from uniparser_spark.graph import connected_components_star

    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)

    assert [reliable_this_round(i) for i in range(6)] == [
        False, False, False, False, True, False,
    ]

    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        # unit: a reliable step writes files and survives unpersist
        df = step_checkpoint(
            spark.range(100).select(F.col("id").alias("a")), reliable=True
        )
        assert has_checkpoint_dir(df)
        assert df.count() == 100  # materializes the checkpoint
        import glob

        files = glob.glob(ckdir + "/**/part-*", recursive=True)
        assert files, "reliable checkpoint wrote nothing"
        df.unpersist(blocking=True)  # drop any cached blocks
        assert df.count() == 100  # recomputed from checkpoint files

        # end-to-end: a diameter-60 chain forces >= RELIABLE_INTERVAL
        # star rounds, so the durable cadence actually fires mid-chain
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(60)], "src long, dst long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(61)], "node long")
        comp = connected_components_star(edges, nodes)
        got = {r["node"]: r["comp"] for r in comp.collect()}
        assert got == {i: 0 for i in range(61)}
        assert len(glob.glob(ckdir + "/**/part-*", recursive=True)) > len(files)
    finally:
        # restore the shared session's default (no reliable dir)
        sc._jsc.sc().setCheckpointDir(None)


def test_union_find_edge_cases_match_hashmin(spark):
    """The small-graph union-find path on degenerate inputs equals
    hash-min: no edges, self-loops only, duplicate and reversed edges,
    and a chain fed in descending id order (every union lands on the
    later, smaller root)."""
    from uniparser_spark.graph import connected_components, connected_components_star

    cases = {
        "empty": [],
        "self_loops": [(1, 1), (4, 4)],
        "dup_reversed": [(3, 1), (1, 3), (3, 1), (5, 4), (4, 5), (2, 2)],
        "desc_chain": [(i, i - 1) for i in range(9, 0, -1)],
    }
    nodes = spark.createDataFrame([(j,) for j in range(12)], "node long")
    for name, pairs in cases.items():
        edges = spark.createDataFrame(pairs, "src long, dst long")
        hm = {r["node"]: r["comp"] for r in connected_components(edges, nodes).collect()}
        uf = {r["node"]: r["comp"] for r in connected_components_star(edges, nodes).collect()}
        assert uf == hm, name
    assert uf == {**{j: 0 for j in range(10)}, 10: 10, 11: 11}


def test_union_find_empty_input_yields_schema():
    """With no edge batches the mapInPandas body still yields one empty
    (node, comp) frame of longs."""
    from uniparser_spark.graph import _union_find

    (out,) = list(_union_find(iter([])))
    assert list(out.columns) == ["node", "comp"] and len(out) == 0
    assert [str(t) for t in out.dtypes] == ["int64", "int64"]


def test_small_graph_path_runs_fewer_jobs(spark, monkeypatch):
    """Job-group count on the keep-flags graph, union-find path vs cap
    0 (star rounds), same rows either way.  With AQE off a job is one
    action, so the counts are exact: the pre-loop signature and the
    output collect (2) vs those plus one star round's signature (3).
    With AQE on every query stage is its own job and the count moves
    with stage timing (9-10 vs 19-20 measured), so only the order is
    asserted there."""
    from uniparser_spark import graph
    from uniparser_spark.graph import dedup_clusters

    edges = spark.createDataFrame([(7, 2), (2, 9)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in (2, 3, 7, 9)], "node long")
    sc = spark.sparkContext

    def jobs(cap, aqe):
        group = f"small-graph-jobs-cap-{cap}-aqe-{aqe}"
        with monkeypatch.context() as mp:
            mp.setattr(graph, "SMALL_GRAPH_EDGES", cap)
            old = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            sc.setJobGroup(group, group)
            try:
                rows = sorted(tuple(r) for r in dedup_clusters(edges, nodes).collect())
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                spark.conf.set("spark.sql.adaptive.enabled", old)
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    counts = {}
    for aqe in ("false", "true"):
        uf_rows, uf_jobs = jobs(graph.SMALL_GRAPH_EDGES, aqe)
        star_rows, star_jobs = jobs(0, aqe)
        assert uf_rows == star_rows
        counts[aqe] = (uf_jobs, star_jobs)
    assert counts["false"] == (2, 3)
    assert counts["true"][0] < counts["true"][1]


def test_trustrank_seed_mass_and_spam_isolation(spark):
    from uniparser_spark.graph import trustrank

    # 0 -> 1 -> 2 -> 0 cycle; 3 links INTO the cycle but nothing links
    # to 3 (a spam node pointing at good pages)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["trust"] for r in trustrank(edges, nodes, seeds).collect()}

    # hand-unrolled 3 iterations (beta = 0.85, d = [1,0,0,0])
    beta, rb = 0.85, 1 - 0.85
    t = [1.0, 0.0, 0.0, 0.0]
    for _ in range(3):
        c = [t[2] + t[3], t[0], t[1], 0.0]  # unit outdegs
        t = [rb * (1.0 if v == 0 else 0.0) + beta * c[v] for v in range(4)]
    for v in range(4):
        assert abs(got[v] - t[v]) < 1e-8, (v, got[v], t[v])
    # the seed-unreachable spam node holds exactly zero trust, despite
    # its out-link — the demotion property PageRank lacks
    assert got[3] == 0.0
    assert got[0] > got[1] > got[2] > 0


def test_trustrank_empty_seeds_raises(spark):
    import pytest as _pt

    from uniparser_spark.graph import trustrank

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,)], "node long")
    empty = spark.createDataFrame([], "node long")
    with _pt.raises(ValueError):
        trustrank(edges, nodes, empty)


# ----------------------------------------------------------------- HITS
def test_hits_hand_computed(spark):
    """2-iteration integer HITS on a tiny hub/authority graph."""
    from uniparser_spark.graph import hits

    # 1 and 2 are hubs pointing at authorities 3,4; 3 also points at 4
    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "node long")
    out = {r["node"]: r for r in hits(edges, nodes).collect()}
    # iter1: a1 = indeg: a(3)=2, a(4)=3; h1: h(1)=5, h(2)=5, h(3)=3
    # iter2: a2(3)=h1(1)+h1(2)=10, a2(4)=5+5+3=13
    #        h2(1)=a2(3)+a2(4)=23, h2(2)=23, h2(3)=13
    assert out[1]["hub_score"] == 23 and out[2]["hub_score"] == 23
    assert out[3]["hub_score"] == 13 and out[4]["hub_score"] == 0
    assert out[3]["auth_score"] == 10 and out[4]["auth_score"] == 13
    assert out[1]["auth_score"] == 0
    assert out[4]["auth_norm"] == 1.0 and out[1]["hub_norm"] == 1.0
    assert out[3]["auth_norm"] == round(10 / 13, 6)


# ---------------------------------------------------------------- opic
def test_opic_round_conserves_cash_and_accumulates_history(spark):
    from uniparser_spark.graph import opic_round

    links = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")],
        "src string, dst string",
    )
    cash = spark.createDataFrame(
        [("a", 1000001, 0), ("b", 500000, 7), ("c", 200000, 0)],
        "url string, cash long, history long",
    )
    got = {r["url"]: r.asDict() for r in opic_round(links, cash).collect()}
    # a: cash 1000001 over 2 links -> share 500000, residual 1 (DIV
    # remainder stays), given 1000000 to history
    assert got["a"]["cash"] == 1
    assert got["a"]["history"] == 1000000
    # b: gives 500000 to c, receives a's 500000
    assert got["b"]["cash"] == 500000
    assert got["b"]["history"] == 7 + 500000
    # c: no outlinks -> keeps its cash, plus receives from a and b
    assert got["c"]["cash"] == 200000 + 500000 + 500000
    assert got["c"]["history"] == 0
    # d links out but holds no cash: absent from the state
    assert "d" not in got
    # cash conservation: total cash unchanged
    assert sum(r["cash"] for r in got.values()) == 1000001 + 500000 + 200000
    assert all(
        r["importance"] == r["cash"] + r["history"] for r in got.values()
    )


def test_opic_two_rounds_compose(spark):
    from uniparser_spark.graph import opic_round

    links = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    cash = spark.createDataFrame(
        [("a", 1000000, 0), ("b", 0, 0)], "url string, cash long, history long"
    )
    r1 = opic_round(links, cash)
    r2 = {r["url"]: r.asDict() for r in opic_round(links, r1).collect()}
    # the million bounced a->b->a; history counts both hops
    assert r2["a"]["cash"] == 1000000
    assert r2["a"]["history"] == 1000000
    assert r2["b"]["cash"] == 0
    assert r2["b"]["history"] == 1000000


# ----------------------------------------------------------- spam mass
def test_spam_mass_composes_published_signals(spark):
    """spam_mass must equal 1 - trust/rank over the PUBLISHED
    (rounded) pagerank/trustrank columns, clamped to [0,1]; a node
    unreachable from the seed set carries mass exactly 1."""
    from uniparser_spark.graph import pagerank, spam_mass, trustrank

    # 1 <-> 2 form a trusted core (seed = 1); 3 links into 2 but
    # nothing links to 3, so no trust can ever reach it.
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 2)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r.asDict()
        for r in spam_mass(edges, nodes, 3, seeds).collect()
    }
    assert got[1]["is_seed"] == 1
    assert got[2]["is_seed"] == 0 and got[3]["is_seed"] == 0
    # node 3 receives teleport rank but zero trust -> mass 1
    assert got[3]["trust"] == 0.0
    assert got[3]["spam_mass"] == 1.0
    # the ratio recomputes exactly from the two published signals
    pr = {r["node"]: r["rank"] for r in pagerank(edges, nodes, 3).collect()}
    tr = {
        r["node"]: r["trust"]
        for r in trustrank(edges, nodes, seeds).collect()
    }
    for n, row in got.items():
        assert row["rank"] == pr[n] and row["trust"] == tr[n]
        expect = round(max(0.0, 1.0 - tr[n] / pr[n]), 6)
        assert row["spam_mass"] == expect
        assert 0.0 <= row["spam_mass"] <= 1.0
    # seed-adjacent trust-rich nodes carry less mass than the orphan
    assert got[1]["spam_mass"] < got[3]["spam_mass"]
    assert got[2]["spam_mass"] < got[3]["spam_mass"]


# ------------------------------------------------ seed neighborhood
def test_seed_neighborhood_hops_and_parents(spark):
    """2-hop BFS: min distance wins, unreached nodes absent, and
    n_parents counts distinct min-distance predecessors."""
    import pytest

    from uniparser_spark.graph import seed_neighborhood

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (2, 1), (3, 1)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: (r["hops"], r["n_parents"])
        for r in seed_neighborhood(edges, seeds, max_hops=2).collect()
    }
    # node 5 is 3 hops out -> absent; 4 is reached by BOTH 2 and 3
    assert got == {1: (0, 0), 2: (1, 1), 3: (1, 1), 4: (2, 2)}
    with pytest.raises(ValueError):
        seed_neighborhood(edges, seeds, max_hops=0)


def test_seed_neighborhood_min_distance_wins(spark):
    """A node reachable at hop 1 AND hop 2 is assigned hop 1 only."""
    from uniparser_spark.graph import seed_neighborhood

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 2)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: (r["hops"], r["n_parents"])
        for r in seed_neighborhood(edges, seeds, max_hops=2).collect()
    }
    # 2 keeps hop 1; its hop-2 path via 3 does not demote it, but 3->2
    # is NOT a min-distance edge (1 != 1+1), so only seed 1 parents it
    assert got == {1: (0, 0), 2: (1, 1), 3: (1, 1)}


# -------------------------------------------- label propagation
def test_label_propagation_clamp_tie_and_reach(spark):
    """Seeds stay clamped, ties break lexicographically, labels reach
    2 hops in 2 rounds, isolated nodes read as 'none'."""
    import pytest

    from uniparser_spark.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4), (2, 5), (5, 2)], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "node long"
    )
    seeds = spark.createDataFrame(
        [(1, "a"), (2, "b")], "node long, label string"
    )
    got = {
        r["node"]: (r["label"], r["origin"])
        for r in label_propagation(edges, nodes, seeds, iters=2).collect()
    }
    assert got[1] == ("a", "seed")
    # 5 -> 2 in-edge must NOT overwrite the clamped seed label
    assert got[2] == ("b", "seed")
    # node 3 sees {a, b} equally often -> lexicographic winner
    assert got[3] == ("a", "prop")
    # 2 hops from seed 1 via 3 in 2 rounds
    assert got[4] == ("a", "prop")
    assert got[5] == ("b", "prop")
    assert got[6] == (None, "none")
    with pytest.raises(ValueError):
        label_propagation(edges, nodes, seeds, iters=0)


# -------------------------------------------- co-citation pairs
def test_cocitation_pairs_cap_and_jaccard(spark):
    """Hub sources above max_out are excluded from the pair join but
    still count toward in-degrees; jaccard uses uncapped in-sets."""
    from uniparser_spark.graph import cocitation_pairs

    rows = (
        [("s1", "x"), ("s1", "y"), ("s2", "x"), ("s2", "y"),
         ("s3", "x"), ("s3", "z")]
        + [("hub", t) for t in ("x", "y", "z", "w")]
    )
    edges = spark.createDataFrame(rows, "src string, dst string")
    out = {
        (r["node_a"], r["node_b"]): r.asDict()
        for r in cocitation_pairs(edges, min_common=1, max_out=3).collect()
    }
    assert set(out) == {("x", "y"), ("x", "z")}
    xy = out[("x", "y")]
    # common sources s1, s2 (hub capped out); in-degrees 4 and 3 uncapped
    assert xy["n_common"] == 2
    assert xy["jaccard"] == round(2 / (4 + 3 - 2), 6)
    xz = out[("x", "z")]
    assert xz["n_common"] == 1
    assert xz["jaccard"] == round(1 / (4 + 2 - 1), 6)
    # min_common gate
    only = cocitation_pairs(edges, min_common=2, max_out=3).collect()
    assert [(r["node_a"], r["node_b"]) for r in only] == [("x", "y")]


def test_triangle_counts_hand_graph(spark):
    """Triangle {1,2,3} + pendant 4 + triangle-free path 5-6-7;
    reversed duplicate edges collapse in the symmetrize step."""
    from uniparser_spark.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 1), (3, 4), (5, 6), (6, 7)],
        "src long, dst long",
    )
    got = {r["node"]: r for r in triangle_counts(edges).collect()}
    assert len(got) == 7
    assert (got[1]["degree"], got[1]["triangles"], got[1]["clustering"]) == (2, 1, 1.0)
    assert (got[2]["degree"], got[2]["triangles"], got[2]["clustering"]) == (2, 1, 1.0)
    assert (got[3]["degree"], got[3]["triangles"]) == (3, 1)
    assert got[3]["clustering"] == 0.333333
    for n in (4, 5, 7):
        assert (got[n]["degree"], got[n]["triangles"], got[n]["clustering"]) == (
            1, 0, 0.0,
        )
    assert (got[6]["degree"], got[6]["triangles"], got[6]["clustering"]) == (2, 0, 0.0)


def test_triangle_counts_hub_generates_no_wedges(spark):
    """A star hub (all edges oriented INTO the high-degree center)
    yields zero triangles and zero clustering everywhere."""
    from uniparser_spark.graph import triangle_counts

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "src long, dst long"
    )
    rows = triangle_counts(edges).collect()
    assert all(r["triangles"] == 0 and r["clustering"] == 0.0 for r in rows)
    assert {r["degree"] for r in rows} == {1, 8}


def test_kcore_peel_cascade_and_stability(spark):
    """Path 1-2-3-4-5 hanging off nothing + triangle {10,11,12}:
    k=2 peels the path end-in, two nodes per round; the triangle is
    the stable 2-core."""
    from uniparser_spark.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "src long, dst long",
    )
    r1 = {r["node"]: r for r in kcore_peel(edges, k=2, rounds=1).collect()}
    # round 1 removed 1 and 5; 2 and 4 now degree-1 (stable=0)
    assert set(r1) == {2, 3, 4, 10, 11, 12}
    assert (r1[2]["degree"], r1[2]["stable"]) == (1, 0)
    assert (r1[3]["degree"], r1[3]["stable"]) == (2, 1)
    assert (r1[4]["degree"], r1[4]["stable"]) == (1, 0)
    r2 = {r["node"]: r for r in kcore_peel(edges, k=2, rounds=2).collect()}
    # round 2 removed 2 and 4; node 3 isolated -> dropped from output
    assert set(r2) == {10, 11, 12}
    assert all(r["degree"] == 2 and r["stable"] == 1 for r in r2.values())
    r3 = {r["node"]: r for r in kcore_peel(edges, k=3, rounds=1).collect()}
    assert r3 == {}


def test_triangle_and_kcore_vs_bruteforce_random_graphs(spark):
    """Seeded random graphs vs pure-Python brute force: triangle
    counts per node, clustering, and the full k-core peel fixpoint."""
    import itertools
    import random

    from uniparser_spark.graph import kcore_peel, triangle_counts

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 12
        edges = sorted(
            {
                (a, b)
                for a in range(n)
                for b in range(n)
                if a != b and rng.random() < 0.25
            }
        )
        und = {tuple(sorted(e)) for e in edges}
        adj = {v: set() for v in range(n)}
        for u, v in und:
            adj[u].add(v)
            adj[v].add(u)
        tri = {v: 0 for v in range(n)}
        for a, b, c in itertools.combinations(range(n), 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for v in (a, b, c):
                    tri[v] += 1
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r for r in triangle_counts(df).collect()}
        for v, nbrs in adj.items():
            if not nbrs:
                assert v not in got
                continue
            d = len(nbrs)
            assert got[v]["degree"] == d, (seed, v)
            assert got[v]["triangles"] == tri[v], (seed, v)
            expect_c = round(2 * tri[v] / (d * (d - 1)), 6) if d >= 2 else 0.0
            assert abs(got[v]["clustering"] - expect_c) < 1e-9, (seed, v)
        # k-core: enough rounds to reach the fixpoint == true 2-core
        alive = {v for v in range(n) if adj[v]}
        cur = {u_v for u_v in und}
        while True:
            deg = {}
            for u, v in cur:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            keep = {v for v, dg in deg.items() if dg >= 2}
            nxt = {(u, v) for u, v in cur if u in keep and v in keep}
            if nxt == cur:
                break
            cur = nxt
        true_deg = {}
        for u, v in cur:
            true_deg[u] = true_deg.get(u, 0) + 1
            true_deg[v] = true_deg.get(v, 0) + 1
        got_k = {
            r["node"]: r for r in kcore_peel(df, k=2, rounds=n).collect()
        }
        assert {v: r["degree"] for v, r in got_k.items()} == true_deg, seed
        assert all(r["stable"] == 1 for r in got_k.values()), seed


def test_seed_attribution_min_hops_then_min_seed(spark):
    from uniparser_spark.graph import seed_attribution

    # seeds 1 and 9. node 5: hop1 from 9, hop2 from 1 -> owned by 9.
    # node 6: hop1 from both -> min seed 1. node 7: hop2 via 5 -> seed 9.
    edges = spark.createDataFrame(
        [(9, 5), (1, 4), (4, 5), (1, 6), (9, 6), (5, 7)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,), (9,)], "node long")
    got = {
        r["node"]: (r["hops"], r["seed"])
        for r in seed_attribution(edges, seeds).collect()
    }
    assert got == {
        1: (0, 1), 9: (0, 9),
        4: (1, 1), 5: (1, 9), 6: (1, 1),
        7: (2, 9),
    }
