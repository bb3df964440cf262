"""Link-graph analytics over the crawled corpus: degrees + PageRank.

A crawl pipeline's frontier wants link-derived priority signals — the
reference hardcodes FIFO order (crawler.py recursion); at web scale the
standard signal is in-link authority (PageRank) over the host/page
graph.  This module implements the iterative computation Spark-first:
edges and ranks are DataFrames, one iteration = join(edges, ranks) →
map-side-combined groupBy(dst) → left join back onto the node set.
Spark's scheduler pipelines the unrolled iterations into one lazy plan;
every shuffle carries narrow (id, double) rows, never page content.

A fixed iteration count keeps the whole computation SQL-expressible, so
the DuckDB oracle unrolls the identical three iterations and the driver
hash-checks every rank (constants are written so both engines compute
bit-identical doubles: `1 - 0.85` evaluates to the same IEEE value
everywhere; ranks are rounded only at emission).

The sf tables carry no hyperlinks, so the suite wrapper synthesizes a
deterministic circulant graph over doc_ids (v → (7v+k) mod n,
k=1..fanout, self-loops dropped) — the oracle re-synthesizes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# connected_components_star finishes a graph of at most this many
# symmetrized edges in one single-partition union-find task instead of
# star-contraction rounds.  Random graphs on local[4] (4-core Xeon):
# union-find 0.4 s vs star 4.1 s at 10^3 edges, 3.4 s vs 45.9 s at
# 10^6, where the union-find worker grows by ~80 MB.
SMALL_GRAPH_EDGES = 1_000_000
DAMPING = 0.85  # PageRank / TrustRank link-follow probability
RANK_ITERS = 3  # PageRank / TrustRank synchronous iterations


def synth_edges(df: DataFrame, n_nodes: int, fanout: int = 3) -> DataFrame:
    """Deterministic circulant link graph: v → (7v+k) mod n_nodes for
    k = 1..fanout, self-loops dropped (distinct targets for n > fanout)."""
    did = F.col("doc_id")
    dsts = F.array(*[(did * 7 + k) % n_nodes for k in range(1, fanout + 1)])
    return (
        df.select(did.alias("src"), F.explode(dsts).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def link_degrees(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Per-node out/in degree over the edge list (two narrow partial
    aggregations + left joins onto the node set; absent = 0)."""
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    in_deg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        nodes.join(out_deg, "node", "left")
        .join(in_deg, "node", "left")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
) -> DataFrame:
    """PageRank after RANK_ITERS synchronous iterations (uniform init,
    no dangling nodes in the synthesized graph — every v has out-links).

    Scale shape per iteration: contributions = edges ⋈ ranks on src
    (both sides narrow; a production run pre-partitions edges by src so
    the join reuses one Exchange across iterations), then a map-side
    combined sum by dst, then a left join onto the node set for the
    teleport term.  Rank state is O(nodes) narrow rows.
    """
    n = float(n_nodes)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_deg = edges.join(deg, "src")
    ranks = nodes.select("node", (F.lit(1.0) / n).alias("rank"))
    teleport = (1.0 - DAMPING) / n
    for _ in range(RANK_ITERS):
        # explicit aliases: ranks' lineage includes edges_deg/nodes after
        # the first iteration, and unaliased self-joins are ambiguous
        contribs = (
            edges_deg.alias("e")
            .join(ranks.alias("r"), F.col("e.src") == F.col("r.node"))
            .select(
                F.col("e.dst").alias("dst"),
                (F.col("r.rank") / F.col("e.outdeg")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.alias("n")
            .join(contribs.alias("c"), F.col("n.node") == F.col("c.dst"), "left")
            .select(
                F.col("n.node").alias("node"),
                (
                    F.lit(teleport)
                    + F.lit(DAMPING) * F.coalesce(F.col("c.c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def trustrank(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB'04):
    personalized PageRank whose teleport mass returns ONLY to a
    curated trusted-seed set, so trust decays with link distance from
    the seeds — the standard web-spam demotion signal a frontier ranks
    against (spam farms that inflate raw PageRank receive almost no
    seed-reachable mass).

    Same per-iteration scale shape as :func:`pagerank` — join on src,
    map-side-combined sum by dst, narrow (id, double) state — plus one
    broadcast of the seed vector (curated seed lists are 10^2-10^5
    rows; never a shuffle side).  Trust starts as the uniform seed
    distribution d (1/|seeds| on seeds, 0 elsewhere) and iterates
    t = (1-DAMPING)*d + DAMPING*M't.  Like :func:`pagerank`, dangling
    mass is dropped, not redistributed (the synthesized suite graph
    has no dangling nodes); a fixed RANK_ITERS keeps the whole thing
    SQL-expressible for the oracle.

    ``seeds`` is a one-column (node) DataFrame.  Returns (node, trust)
    with trust rounded at emission only.
    """
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("trustrank requires a non-empty seed set")
    seed_mass = 1.0 / float(n_seeds)
    d = F.broadcast(
        seeds.select(F.col("node"), F.lit(seed_mass).alias("_d")).distinct()
    )
    base = nodes.alias("n").join(d, "node", "left").select(
        F.col("node"), F.coalesce(F.col("_d"), F.lit(0.0)).alias("d")
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_deg = edges.join(deg, "src")
    trust = base.select("node", F.col("d").alias("trust"))
    for _ in range(RANK_ITERS):
        contribs = (
            edges_deg.alias("e")
            .join(trust.alias("t"), F.col("e.src") == F.col("t.node"))
            .select(
                F.col("e.dst").alias("dst"),
                (F.col("t.trust") / F.col("e.outdeg")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        trust = (
            base.alias("b")
            .join(contribs.alias("c"), F.col("b.node") == F.col("c.dst"), "left")
            .select(
                F.col("b.node").alias("node"),
                (
                    F.lit(1.0 - DAMPING) * F.col("b.d")
                    + F.lit(DAMPING) * F.coalesce(F.col("c.c"), F.lit(0.0))
                ).alias("trust"),
            )
        )
    return trust.select("node", F.round("trust", 8).alias("trust"))


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by hash-min label propagation: every node's
    label converges to the MIN node id in its component.

    One iteration = symmetrized-edges ⋈ labels on the source endpoint →
    map-side-combined ``min`` by the destination → left join back onto
    the label state; every shuffle carries only (long, long) rows.  The
    state passes a LAZY :func:`~uniparser_spark.engine.ckpt.
    step_checkpoint` barrier per iteration — the round's convergence
    aggregate is then the ONLY action, materializing the barrier and
    truncating lineage in one Spark job per round (an eager checkpoint
    + separate count would pay two scheduler round-trips).  Converges
    in O(component diameter) rounds — for the near-duplicate clusters
    this feeds on, diameter is tiny (docs tied through shared LSH
    bands), so 3-4 rounds is typical.

    Scale notes for the 10^10-row regime: diameter-bound sequential
    rounds with a driver-coordinated convergence action are the WEAK
    plan on power-law web graphs — :func:`connected_components_star`
    (the :func:`dedup_clusters` default) contracts geometrically in
    O(log n) rounds and is differential-tested against this
    implementation; hash-min stays as the simple twin for shallow
    graphs.  Every ``RELIABLE_INTERVAL``-th round takes a durable
    checkpoint when a checkpoint dir is configured (see engine/ckpt.py
    for the executor-loss failure mode of local-only checkpoints).

    Returns (node, comp) — comp = min node id of the component.
    """
    from .engine.ckpt import reliable_this_round, step_checkpoint

    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).union(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    comp = nodes.select("node", F.col("node").alias("comp")).localCheckpoint()
    for it in range(max_iter):
        nbr_min = (
            sym.alias("e")
            .join(comp.alias("c"), F.col("e.a") == F.col("c.node"))
            .select(F.col("e.b").alias("node"), F.col("c.comp").alias("nc"))
            .groupBy("node")
            .agg(F.min("nc").alias("nbr_min"))
        )
        stepped = step_checkpoint(
            comp.alias("c")
            .join(nbr_min.alias("m"), "node", "left")
            .select(
                "node",
                F.col("comp").alias("old"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))
                ).alias("comp"),
            ),
            reliable=reliable_this_round(it),
        )
        changed = stepped.filter(F.col("comp") < F.col("old")).count()
        comp = stepped.select("node", "comp")
        if changed == 0:
            return comp
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def dedup_clusters(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """Near-duplicate CLUSTERS from candidate pairs: the keep-one-per-
    cluster output a training-data dedup actually consumes (pairs alone
    under-merge: A~B, B~C must collapse to one cluster even when A~C
    never collided).

    edges = (src, dst) duplicate pairs (e.g. from
    :func:`~uniparser_spark.textops.dedup.lsh_candidate_pairs`);
    nodes = every document id (singletons come out as their own
    cluster).  Returns one row per document: its cluster id (min doc id
    of the component), an ``is_canonical`` 0/1 keep flag, and the
    cluster size — filter ``is_canonical = 1`` to materialize the
    deduplicated corpus.

    The default algorithm, ``"star"``, is
    :func:`connected_components_star`: a graph of at most
    ``SMALL_GRAPH_EDGES`` symmetrized edges finishes in one
    single-partition union-find task; above that cap, star-contraction
    runs (O(log n) rounds regardless of component diameter — the plan
    that survives a power-law web graph at 100×).  ``"hashmin"`` stays
    fully distributed at every size as the differential twin for
    shallow graphs.  ``max_iter`` bounds the rounds of the star loop or
    of hash-min; the union-find path has none.
    """
    if algorithm == "hashmin":
        # O(diameter) rounds — the simple twin for shallow components
        comp = connected_components(edges, nodes, max_iter=max_iter)
    elif algorithm == "star":
        # O(log n) rounds regardless of diameter — the power-law path
        comp = connected_components_star(edges, nodes, max_iter=max_iter)
    else:
        raise ValueError(f"unknown CC algorithm {algorithm!r} (hashmin|star)")
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("node").alias(id_col),
            F.col("comp").alias("cluster_id"),
            F.when(F.col("node") == F.col("comp"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_canonical"),
            F.col("cluster_size"),
        )
    )


def select_canonical(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Quality-ranked retention: re-elect each cluster's canonical as
    its BEST-quality document (ties → smallest id) instead of
    :func:`dedup_clusters`' min-id default.

    min-id is deterministic but content-blind — a truncated mirror can
    out-rank the full original purely by crawl order.  Joining the
    per-doc quality signal (``textops.quality.quality_expr`` or any
    (id, quality) table) and ranking inside the cluster keeps the copy
    a training pipeline actually wants.

    One join + one window over ``cluster_id`` — rows are narrow
    (two longs + a double) and near-dup clusters are small, so the
    window's per-key state is tiny; skew would only appear if one
    cluster held a measurable fraction of the corpus, which the LSH
    band-cap upstream already prevents.
    """
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(quality.select("doc_id", "quality"), "doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            (F.col("_rk") == 1).cast("int").alias("is_canonical"),
            "cluster_size",
            "quality",
        )
    )


def _union_find(batches):
    """``mapInPandas`` body of the small-graph path: union-find over the
    whole symmetrized (a, b) edge state in one task, union by min root,
    so every root is its component's minimum node id.  Yields one
    (node, comp) frame — empty, with its schema, for an empty state."""
    import numpy as np
    import pandas as pd

    frames = list(batches)
    a = np.concatenate([f["a"].to_numpy() for f in frames] or [np.empty(0, np.int64)])
    b = np.concatenate([f["b"].to_numpy() for f in frames] or [np.empty(0, np.int64)])
    # the state holds both orientations of every edge: union each once
    keep = a < b
    a, b = a[keep], b[keep]
    # dense ids in sorted order: the min index of a set is its min node
    ids, dense = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for u, v in zip(dense[: len(a)].tolist(), dense[len(a):].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    roots = np.fromiter((find(x) for x in range(len(ids))), np.int64, len(ids))
    yield pd.DataFrame({"node": ids, "comp": ids[roots]})


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components, picked by graph size: a graph of at most
    ``SMALL_GRAPH_EDGES`` symmetrized edges finishes in ONE
    single-partition union-find task; a larger one runs alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — the production choice for
    POWER-LAW graphs, where hash-min's per-round shuffle stays O(E) for
    O(diameter) rounds but star-contraction's active edge set contracts
    geometrically and converges in O(log n) rounds regardless of
    diameter.

    Both paths start from the symmetrized, deduplicated edge state,
    whose signature (below) is collected before any round; its edge
    count picks the path, so the choice costs no extra Spark action.

    Small path: ``coalesce(1).mapInPandas`` over the materialized edge
    state, union by min root (every root is its component's minimum
    node id, the same ``comp`` star and hash-min reach).  The output
    stays lazy; one task holds the whole edge list, which is why the
    cap is a measured constant and not unbounded.

    Large path, one round = two half-steps over the undirected
    neighbor relation, each a groupBy(min) + join emitting a rewired
    edge set:

    - large-star(u): every neighbor v > u re-attaches to
      m(u) = min(Γ(u) ∪ {u});
    - small-star(u): every neighbor v ≤ u re-attaches to m(u).

    Both preserve connectivity and strictly reduce a potential
    function; the fixpoint is a star forest where every node's single
    neighbor is its component minimum.  Convergence is detected via an
    order-free (count, xor-of-xxhash64) signature of the edge state —
    the round's ONLY action: both half-step checkpoints are LAZY
    (engine/ckpt.py step_checkpoint), so the signature aggregate
    materializes them and truncates lineage in a single Spark job per
    round, instead of two eager checkpoint jobs + a convergence job.
    Every ``RELIABLE_INTERVAL``-th round the barrier is a durable
    ``checkpoint`` when a checkpoint dir is configured — bounding
    re-lost work under executor failure to ``interval`` rounds of
    narrow-edge shuffles (localCheckpoint blocks die with their
    executor; see engine/ckpt.py).  ``max_iter`` bounds these rounds
    only; the small path has none.

    Same contract as :func:`connected_components`: returns
    (node, comp); singletons map to themselves.  A differential test
    pins both paths to hash-min on random graphs.
    """
    from .engine.ckpt import reliable_this_round, step_checkpoint

    # symmetrized neighbor relation; the star steps reason over the
    # full Γ(u) of each node.  Lazy barrier: the pre-loop signature is
    # the materializing action (same one-job-per-step discipline as the
    # rounds).
    e = step_checkpoint(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
                    F.struct(F.col("dst").alias("a"), F.col("src").alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
    )

    def signature(df: DataFrame) -> tuple:
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)
            ).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    def star(e: DataFrame, large: bool, reliable: bool) -> DataFrame:
        m = (
            e.groupBy("a")
            .agg(F.min("b").alias("_mn"))
            .select("a", F.least(F.col("a"), F.col("_mn")).alias("m"))
        )
        cond = F.col("b") > F.col("a") if large else F.col("b") <= F.col("a")
        rewired = (
            e.filter(cond)
            .join(m, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        self_link = m.select(F.col("a"), F.col("m").alias("b"))
        out = rewired.union(self_link).filter(F.col("a") != F.col("b"))
        # re-symmetrize IN ONE PASS (explode both orientations of each
        # edge) and dedup with a SINGLE distinct — the union-of-swapped
        # form costs a second Exchange per half-step for the same rows
        return step_checkpoint(
            out.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a"), F.col("b")),
                        F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                    )
                ).alias("_e")
            )
            .select("_e.a", "_e.b")
            .distinct(),
            reliable=reliable,
        )

    sig = signature(e)
    if sig[0] <= SMALL_GRAPH_EDGES:
        comp = e.coalesce(1).mapInPandas(_union_find, "node long, comp long")
    else:
        for it in range(max_iter):
            durable = reliable_this_round(it)
            e = star(e, large=True, reliable=False)
            e = star(e, large=False, reliable=durable)
            new_sig = signature(e)
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"connected_components_star did not converge in {max_iter} rounds"
            )
        # fixpoint: every edge points between a node and its component
        # min; comp(u) = min neighbor (or u itself for singletons)
        comp = e.groupBy("a").agg(F.min("b").alias("_mn")).select(
            F.col("a").alias("node"), F.least(F.col("a"), F.col("_mn")).alias("comp")
        )
    return (
        nodes.join(comp, nodes["node"] == comp["node"], "left")
        .select(
            nodes["node"],
            F.coalesce(comp["comp"], nodes["node"]).alias("comp"),
        )
    )


def hits(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """HITS (Kleinberg, JACM'99) hub/authority scores — the
    link-analysis complement to PageRank/TrustRank: authorities are
    pages good hubs point to, hubs are pages that point to good
    authorities.  Frontier use: hub scores rank link-discovery
    fetches (index/category pages), authority scores rank content
    fetches — two different crawl intents from one computation.

    Scale shape per half-iteration: join edges against the narrow
    (node, score) state + map-side-combined sum — identical to
    :func:`pagerank`'s update, state never wider than 16 bytes/node.

    Bit-stability: the textbook algorithm L2-normalizes each step,
    which would put order-sensitive float sums in the loop.  With a
    fixed iteration count (2) the normalization is only a display scale,
    so the recurrence runs in EXACT INTEGER arithmetic (h0 = 1;
    a = Σ_in h; h = Σ_out a — sums of longs, associative, engine-
    independent) and a single max-scaled double is emitted at the end
    (one division + ROUND, both correctly rounded).  Score growth is
    ~(avg degree)^4 over the 2 iterations; overflow would need
    degree^4 ≈ 2^63.

    Returns (node, hub_score, auth_score, hub_norm, auth_norm);
    nodes with no out-links (in-links) score 0 as hubs (authorities).
    """
    h = nodes.select("node", F.lit(1).cast("long").alias("s"))
    a = None
    for _ in range(2):
        a = (
            edges.join(h, edges["src"] == h["node"])
            .groupBy(edges["dst"].alias("node"))
            .agg(F.sum("s").alias("s"))
        )
        h = (
            edges.join(a, edges["dst"] == a["node"])
            .groupBy(edges["src"].alias("node"))
            .agg(F.sum("s").alias("s"))
        )
    hub = h.select(F.col("node"), F.col("s").alias("hub_score"))
    auth = a.select(F.col("node"), F.col("s").alias("auth_score"))
    out = (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub_score", F.lit(0)).alias("hub_score"),
            F.coalesce("auth_score", F.lit(0)).alias("auth_score"),
        )
    )
    mx = out.agg(
        F.max("hub_score").cast("double").alias("_mh"),
        F.max("auth_score").cast("double").alias("_ma"),
    )
    return out.crossJoin(F.broadcast(mx)).select(
        "node",
        "hub_score",
        "auth_score",
        F.round(F.col("hub_score").cast("double") / F.col("_mh"), 6).alias(
            "hub_norm"
        ),
        F.round(F.col("auth_score").cast("double") / F.col("_ma"), 6).alias(
            "auth_norm"
        ),
    )


def opic_round(links: DataFrame, cash: DataFrame) -> DataFrame:
    """One OPIC round (Abiteboul/Preda/Cobena 2003, "Adaptive On-Line
    Page Importance Computation") — the frontier-time importance signal
    a crawler can maintain INCREMENTALLY, before any PageRank-style
    convergence is affordable: each page distributes its accumulated
    cash equally over its outlinks when processed; a page's importance
    estimate is the cash it has received plus everything it has ever
    distributed (its history).

    Inputs: ``links(src, dst)`` (the round's outlink edges) and
    ``cash(url, cash, history)`` as BIGINT micro-cash units.  Integer
    arithmetic end-to-end: per-link share = cash DIV outdeg; the DIV
    remainder stays with the source (cash is conserved exactly, and the
    whole round is bit-reproducible — no doubles anywhere).  Pages with
    no outlinks keep their cash (the virtual-root refinement is a
    caller-side policy); pages receiving cash without a prior row enter
    with history 0.

    Output: (url, cash, history, importance = cash + history).

    Scale: one map-side-combined groupBy(src) for outdegrees, one
    broadcast-or-shuffle join to compute shares, one groupBy(dst) of
    narrow (dst, bigint) rows, one full outer merge onto the cash
    state — the same shape as a frontier-state update, compatible with
    running every crawl round.
    """
    deg = links.groupBy(F.col("src")).agg(
        F.count(F.lit(1)).cast("long").alias("_deg")
    )
    c = cash.select(
        F.col("url").alias("_u"),
        F.col("cash").cast("long").alias("_c"),
        F.col("history").cast("long").alias("_h"),
    )
    giving = c.join(deg, c["_u"] == deg["src"], "left").select(
        "_u",
        "_c",
        "_h",
        F.coalesce("_deg", F.lit(0)).alias("_deg"),
    )
    share = F.when(
        F.col("_deg") > 0, F.expr("_c DIV _deg")
    ).otherwise(F.lit(0)).cast("long")
    staged = giving.select(
        "_u",
        "_h",
        share.alias("_share"),
        (F.col("_c") - share * F.col("_deg")).alias("_residual"),
        (share * F.col("_deg")).alias("_given"),
    )
    recv = (
        links.join(
            staged.select(F.col("_u").alias("src"), "_share"), "src"
        )
        .groupBy(F.col("dst").alias("_u"))
        .agg(F.sum("_share").cast("long").alias("_recv"))
    )
    merged = staged.join(recv, "_u", "full_outer")
    return merged.select(
        F.col("_u").alias("url"),
        (
            F.coalesce("_residual", F.lit(0)) + F.coalesce("_recv", F.lit(0))
        ).cast("long").alias("cash"),
        (
            F.coalesce("_h", F.lit(0)) + F.coalesce("_given", F.lit(0))
        ).cast("long").alias("history"),
        (
            F.coalesce("_residual", F.lit(0))
            + F.coalesce("_recv", F.lit(0))
            + F.coalesce("_h", F.lit(0))
            + F.coalesce("_given", F.lit(0))
        ).cast("long").alias("importance"),
    )


def spam_mass(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    seeds: DataFrame,
) -> DataFrame:
    """Spam mass (Gyongyi et al., 'Link Spam Detection Based on Mass
    Estimation', VLDB'06, simplified): the fraction of a page's
    PageRank NOT backed by trusted-seed-reachable mass —
    ``1 - trust/rank``, clamped to [0, 1].  Link farms inflate raw
    PageRank but receive almost no TrustRank, so their mass -> 1;
    seed-adjacent pages -> 0.  Frontiers demote high-mass hosts.

    Composes :func:`pagerank` and :func:`trustrank` (same edge set,
    same iteration count) with one final join on node.  The ratio is
    computed from the PUBLISHED (rounded) rank and trust columns, so
    the output is exactly reproducible from the two certified
    upstream results — no float-order hazard beyond theirs.

    Scale: lazily composed, the plan re-derives both chains (~2x the
    single-chain Exchange count); a production pipeline publishes the
    pagerank and trustrank tables anyway, so it feeds those into
    :func:`spam_mass_from_signals` — two node-keyed joins, nothing
    iterative — which this function delegates to.
    """
    pr = pagerank(edges, nodes, n_nodes)
    tr = trustrank(edges, nodes, seeds)
    return spam_mass_from_signals(pr, tr, seeds)


def spam_mass_from_signals(
    pr: DataFrame, tr: DataFrame, seeds: DataFrame
) -> DataFrame:
    """Spam mass over ALREADY-MATERIALIZED (node, rank) and
    (node, trust) tables — the production path: the two iterative
    chains are published once per graph build, and the mass ratio is
    two narrow node-keyed joins over them (the seed flag broadcasts).
    """
    seed_flag = F.broadcast(
        seeds.select(F.col("node"), F.lit(1).alias("_s")).distinct()
    )
    return (
        pr.join(tr, "node")
        .join(seed_flag, "node", "left")
        .select(
            "node",
            "rank",
            "trust",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0) - F.col("trust") / F.col("rank"),
                ),
                6,
            ).alias("spam_mass"),
            F.coalesce(F.col("_s"), F.lit(0)).cast("int").alias("is_seed"),
        )
    )


def seed_neighborhood(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 2,
) -> DataFrame:
    """Bounded-hop BFS from a seed set: every node reachable within
    ``max_hops`` link hops, its MINIMUM hop distance, and how many
    distinct min-distance predecessors reach it (``n_parents`` — a
    breadth signal: a page one hop from 40 seeds is a safer crawl
    expansion than a page one hop from one).

    This is the seed-expansion primitive a curated crawl uses to grow
    a vertical corpus (hop distance = the classic focused-crawl
    admission gate), and the boolean complement of trustrank: hops
    answers "is it near the seeds", trust answers "how much mass
    flows to it".

    Scale shape: ``max_hops`` is a SMALL constant (2-3 in practice),
    so this is hops× (edges ⋈ frontier anti-join assigned), each
    join keyed on node — the frontier shrinks as the neighborhood
    saturates.  NOT for unbounded reachability — that's
    connected_components' pointer-doubling job.  The n_parents pass
    is one extra edges ⋈ assigned^2 join over narrow rows.
    """
    from .engine.ckpt import step_checkpoint

    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = edges.select(F.col("src"), F.col("dst"))
    assigned = seeds.select("node").distinct().select(
        "node", F.lit(0).alias("hops")
    )
    frontier = assigned
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(assigned.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hops"))
        )
        # lineage barrier: assigned is referenced twice next hop (union
        # + anti-join) and 3x by the parents pass — without truncation
        # the shared BFS lineage re-executes per reference
        assigned = step_checkpoint(assigned.unionByName(nxt))
        frontier = nxt
    parents = (
        e.join(
            assigned.select(F.col("node").alias("src"), F.col("hops").alias("_ph")),
            "src",
        )
        .join(
            assigned.select(F.col("node").alias("dst"), F.col("hops").alias("_ch")),
            "dst",
        )
        .filter(F.col("_ch") == F.col("_ph") + 1)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.countDistinct("src").alias("n_parents"))
    )
    return (
        assigned.join(parents, "node", "left")
        .select(
            "node",
            "hops",
            F.coalesce("n_parents", F.lit(0)).cast("long").alias("n_parents"),
        )
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """Seed-clamped synchronous label propagation over the link graph
    (Zhu & Ghahramani '02 / Raghavan '07 shaped): ``seeds`` carries
    (node, label) category assignments; each round every non-seed node
    adopts the most common label among its IN-neighbors' current
    labels (ties -> lexicographically smallest), keeping its previous
    label when no in-neighbor is labeled yet.  The crawl use is host
    categorization: a few hundred hand-labeled hosts (news, commerce,
    spam, ...) spread over the host graph to prioritize the frontier.

    Output: (node, label, origin), origin in {'seed', 'prop', 'none'}
    (none = never reached, label NULL).

    Scale shape: per round one edges ⋈ labels join on src (the label
    relation is narrow (node, label) rows), one map-side-combined
    groupBy(dst, label) count, and one per-node row_number selection;
    ``iters`` is a small constant, so the plan is a bounded unrolled
    chain like pagerank's — no driver-side convergence loop.  The
    deterministic tie-break makes the result partition-invariant.
    """
    from .engine.ckpt import step_checkpoint

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select("src", "dst")
    sd = seeds.select("node", F.col("label").alias("_seed"))
    cur = nodes.select("node").join(sd, "node", "left").select(
        "node", F.col("_seed").alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        counts = (
            e.join(
                cur.filter(F.col("label").isNotNull()).select(
                    F.col("node").alias("src"), "label"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", F.col("label").alias("_new"))
        )
        # lineage barrier: the round's output references cur TWICE
        # (majority counts + previous-label fallback) — unchecked, the
        # state lineage doubles per round (2^iters recompute)
        cur = step_checkpoint(
            cur.join(best, "node", "left")
            .join(sd, "node", "left")
            .select(
                "node",
                F.coalesce("_seed", "_new", "label").alias("label"),
            )
        )
    return cur.join(sd, "node", "left").select(
        "node",
        "label",
        F.when(F.col("_seed").isNotNull(), F.lit("seed"))
        .when(F.col("label").isNotNull(), F.lit("prop"))
        .otherwise(F.lit("none"))
        .alias("origin"),
    )


def cocitation_pairs(
    edges: DataFrame,
    min_common: int = 1,
    max_out: int = 100,
) -> DataFrame:
    """Co-citation similarity (Small '73; the in-link twin of
    bibliographic coupling): pairs of nodes repeatedly linked FROM the
    same sources — mirror/topical-sibling candidates that content
    hashing misses.  ``n_common`` = distinct common in-linking
    sources; ``jaccard`` = n_common / (in(a) + in(b) - n_common) over
    the UNCAPPED in-neighbor sets.

    Scale shape: the source-side self-join explodes quadratically on
    hub sources, so sources with out-degree > ``max_out`` are dropped
    BEFORE the join (standard practice — a directory page linking 10^4
    sites co-cites nothing meaningful; n_common becomes a documented
    lower bound).  After the cap the pair stream is bounded by
    sum(out^2 | out <= max_out) narrow (id, id) rows; in-degrees join
    back per-node, not per-pair-row.
    """
    from .engine.ckpt import step_checkpoint

    # lineage barriers: e is referenced 3x (out-degree, cap join,
    # in-degree) and capped 2x (both self-join sides) — truncation
    # keeps the edge subtree from re-scanning per reference
    e = step_checkpoint(edges.select("src", "dst").distinct())
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_out"))
    capped = step_checkpoint(
        e.join(deg.filter(F.col("_out") <= max_out).select("src"), "src")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.src") == F.col("b.src"))
            & (F.col("a.dst") < F.col("b.dst")),
        )
        .groupBy(
            F.col("a.dst").alias("node_a"), F.col("b.dst").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        pairs.join(
            indeg.select(F.col("node").alias("node_a"),
                         F.col("in_deg").alias("_ia")),
            "node_a",
        )
        .join(
            indeg.select(F.col("node").alias("node_b"),
                         F.col("in_deg").alias("_ib")),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_ia") + F.col("_ib") - F.col("n_common"))
                .cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    the undirected simple graph underlying the link edge list.

    Triangle density separates organic neighborhoods (topical sites
    interlinking — high clustering) from link farms and spam rings
    (star/bipartite exchange schemes — near-zero clustering despite
    high degree), complementing the volume-based signals in
    :func:`spam_mass` and ``link_spam_signals`` with a structural one.

    Scale shape (degree-ordered orientation — the standard trick that
    makes triangle counting survive power-law webs): symmetrize +
    dedupe to undirected edges, orient every edge from the endpoint
    with the smaller ``(degree, id)`` key to the larger, so each
    triangle is enumerated exactly once at its minimum-key vertex and
    the wedge self-join fans out by the ORIENTED out-degree — bounded
    by the graph degeneracy (O(sqrt(m))), not by the max degree.  A
    10^6-in-link hub generates zero wedges because all its edges point
    INTO it.  Every stage shuffles narrow (long, long[, long]) rows;
    wedges close against the oriented edge set with one equi-join.

    Returns ``(node, degree, triangles, clustering)`` for every node
    incident to an edge — ``clustering = 2T / (d(d-1))`` rounded to
    6 dp, 0.0 for degree-1 nodes.
    """
    from .engine.ckpt import step_checkpoint

    # lineage barriers: und is referenced 3x (degree union x2 + keyed)
    # and oriented 3x (both wedge sides + the closing join) — without
    # truncation every reference re-scans and re-shuffles the edge
    # subtree (measured: 33 Exchanges unbarriered vs 6 with barriers)
    und = step_checkpoint(
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = step_checkpoint(
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    keyed = (
        und.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("_du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("_dv")), "v")
    )
    ku = F.struct(F.col("_du").alias("d"), F.col("u").alias("i"))
    kv = F.struct(F.col("_dv").alias("d"), F.col("v").alias("i"))
    oriented = keyed.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(ku < kv, F.col("_dv")).otherwise(F.col("_du")).alias("td"),
    )
    oriented = step_checkpoint(oriented)
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    tkey = lambda a: F.struct(  # noqa: E731
        F.col(f"{a}.td").alias("d"), F.col(f"{a}.t").alias("i")
    )
    wedges = w1.join(
        w2, (F.col("w1.s") == F.col("w2.s")) & (tkey("w1") < tkey("w2"))
    ).select(
        F.col("w1.s").alias("x"), F.col("w1.t").alias("y"), F.col("w2.t").alias("z")
    )
    closed = wedges.join(
        oriented.select(F.col("s").alias("y"), F.col("t").alias("z")), ["y", "z"]
    )
    per_node = (
        closed.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    d = F.col("degree")
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            d >= 2,
            F.round(
                F.coalesce("triangles", F.lit(0)) * 2.0 / (d * (d - 1)), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def kcore_peel(edges: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """Bounded-round k-core peel over the undirected link graph:
    repeatedly delete nodes of degree < ``k`` (and their edges), a
    fixed ``rounds`` times.  Survivors approximate the k-core from
    above — the dense interlinked nucleus of the web graph, the
    classic seed pool for crawl prioritization and the complement of
    the tendrils/periphery that quality filters already catch.

    A full k-core needs peeling to a fixed point (O(peel-depth)
    rounds); like :func:`label_propagation` this keeps ``rounds`` a
    SMALL constant so the whole computation is one unrolled lazy plan
    with no driver-side convergence loop — each round is one
    map-side-combined degree count plus two semi-joins filtering the
    edge list, all narrow (long, long) rows, with a lineage barrier
    per round (engine/ckpt contract).  The per-node ``stable`` flag is
    honest about the bound: 1 iff the node would survive one MORE peel
    (degree still ≥ k); every row stable=1 ⇒ the set IS the k-core,
    any stable=0 row ⇒ the bound was hit mid-cascade.

    Returns ``(node, degree, stable)`` for surviving nodes still
    incident to an edge — degree within the peeled subgraph (a
    survivor isolated by the final round is dropped: it cannot belong
    to any k ≥ 1 core and the next peel would delete it anyway).
    """
    from .engine.ckpt import step_checkpoint

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    for _ in range(rounds):
        deg = (
            und.select(F.col("u").alias("node"))
            .unionAll(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        # lineage barrier: next round's degree count + both semi-joins
        # re-reference this round's edge set
        und = step_checkpoint(
            und.join(keep.select(F.col("node").alias("u")), "u", "left_semi").join(
                keep.select(F.col("node").alias("v")), "v", "left_semi"
            )
        )
    final_deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return final_deg.select(
        "node",
        "degree",
        (F.col("degree") >= k).cast("int").alias("stable"),
    )


def bibcoupling_pairs(edges: DataFrame) -> DataFrame:
    """Bibliographic coupling (Kessler '63; the out-link twin of
    :func:`cocitation_pairs`): pairs of nodes that LINK TO the same
    targets — pages citing the same sources are topical siblings even
    before anyone links to them, so coupling works on the crawl
    frontier's newest pages where co-citation has no in-link signal
    yet.

    Same quadratic guard, mirrored: the self-join explodes on
    high-IN-degree targets (everyone links the homepage), so targets
    with in-degree > 100 are dropped before the join and
    ``n_common`` is a documented lower bound; jaccard is over the
    UNCAPPED out-neighbor sets.  Implemented by running the
    co-citation plan on the reversed edge list — one relation, both
    directions, no second code path to keep correct.

    Returns ``(node_a, node_b, n_common, jaccard)`` with node_a <
    node_b.
    """
    return cocitation_pairs(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def seed_attribution(
    edges: DataFrame,
    seeds: DataFrame,
) -> DataFrame:
    """Crawl provenance: attribute every reachable node to the seed
    that discovers it — at its minimum hop distance, tie-broken by
    smallest seed id, so the attribution is unique and deterministic.

    This is the accounting :func:`seed_neighborhood` doesn't do: that
    op says *how far* a node is from the seed SET; this one says
    *which seed* owns it, which is what per-seed budgeting, seed-list
    pruning ("seed 12 contributed 3 admitted docs in 90 days — drop
    it"), and vertical-corpus attribution reports need.

    Same bounded-round shape as the BFS (2 hops, frontier shrinks,
    per-round lineage barrier); state is one narrow (node, hops, seed)
    row per reached node, and each round resolves ties with one
    map-side-combined min-struct aggregate — never a window sort.

    Returns ``(node, hops, seed)`` for every node within 2 hops
    of some seed (seeds themselves at hops 0, seed = own id).
    """
    from .engine.ckpt import step_checkpoint

    e = edges.select("src", "dst")
    assigned = seeds.select("node").distinct().select(
        "node", F.lit(0).alias("hops"), F.col("node").alias("seed")
    )
    frontier = assigned
    for h in (1, 2):
        nxt = (
            e.join(
                frontier.select(F.col("node").alias("src"), "seed"), "src"
            )
            .select(F.col("dst").alias("node"), "seed")
            .join(assigned.select("node"), "node", "left_anti")
            .groupBy("node")
            .agg(F.min("seed").alias("seed"))
            .select("node", F.lit(h).alias("hops"), "seed")
        )
        # barrier: assigned is referenced by the anti-join AND the union
        assigned = step_checkpoint(assigned.unionByName(nxt))
        frontier = nxt
    return assigned
