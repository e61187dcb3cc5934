"""Graph ranking for crawl prioritization — PageRank over a link graph.

Beyond-reference extension surface (SURVEY §2.11 family): large-scale
pretraining pipelines rank crawl frontiers by link centrality (the Common
Crawl releases ship host-level harmonic centrality and PageRank for
exactly this). The dedup family already covers transitive closure
(`connected_components`); this adds the weighted-propagation member of the
iterative-graph family.

Deterministic by construction: fixed iteration count (no float-threshold
convergence test whose outcome could differ across engines), dangling
mass redistributed uniformly every round (the standard correction — a
sink node otherwise leaks rank out of the system), uniform 1/N
initialization. Each round is two joins + one aggregation, all
partial-agged; `localCheckpoint` bounds lineage exactly as the
connected-components loop does (and the edge/degree relations are
checkpointed ONCE up front — the lesson of the round-6 CC fix: lineage
re-execution does not show up in `explain`, only in round wall times).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank: (id, rank DOUBLE) over the node set
    src ∪ dst. rank_0 = 1/N; each round

        rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/outdeg(u)
                                  + dangling_mass/N)

    with dangling_mass = Σ rank over nodes with no out-edges. Duplicate
    edges collapse (a link counts once); self-loops count as ordinary
    edges. Ranks sum to 1 every round (the dangling correction is what
    preserves that invariant).

    Per round: one join of ranks onto the out-degree-weighted edge list,
    one partial-aggregated groupBy(dst), one broadcast-able left join
    back onto the node set. The dangling-mass sum is NOT a separate
    Python action: it's a 1-row aggregate broadcast-cross-joined into the
    same rank-update plan, so each round is ONE declarative query — the
    JVM schedules the broadcast build inside that query's execution
    (2 jobs/round with AQE off: checkpoint + in-query broadcast build,
    pinned by test) with no driver round-trip serializing the mass sum
    against the update. A formulation with fewer jobs isn't available:
    the dangling scalar inherently needs a full aggregation plus a
    redistribution to every node, whatever the plan shape. Edges and
    degrees are checkpointed once; ranks per round — no lineage
    re-execution of upstream pipelines."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).distinct().localCheckpoint()
    # nodes/deg checkpoint LAZILY: the n-count materializes nodes and
    # round 1's query materializes deg — two fewer setup jobs for the
    # same materializations (round 16, guide §5). The PER-ROUND rank
    # checkpoint stays EAGER deliberately: a lazy chain would defer all
    # rounds to the final action, nesting each round's dangling-mass
    # broadcast build inside the parent round's materialization `iters`
    # deep — broadcastTimeout then prices the whole chain, not one
    # round. e stays eager: two union legs read it in the same job.
    nodes = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = (
        e.groupBy("a")
        .agg(F.count(F.lit(1)).alias("__deg"))
        .localCheckpoint(eager=False)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        # 1-row dangling-mass aggregate, broadcast into the update plan —
        # evaluated inside the round's single job, never collected. The
        # arithmetic mirrors the former driver-side float expression
        # term-for-term ((d*dm)/n, left-assoc sum) so results are
        # bit-identical to the two-job formulation.
        dangling = ranks.join(
            deg, ranks["id"] == deg["a"], "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        contribs = (
            e.join(deg, "a")
            .join(ranks, F.col("a") == ranks["id"])
            .groupBy("b")
            .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__in"))
        )
        base = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.col("__dm") / F.lit(float(n))
        )
        ranks = (
            nodes.join(contribs, nodes["id"] == contribs["b"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    base
                    + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle census of an undirected graph — one row
    (n_nodes, n_edges, wedges, triangles BIGINT, global_cc DOUBLE
    round 6): triangle count plus the global clustering coefficient
    3·triangles / wedges (wedges = Σ_n C(deg_n, 2); NULL on a
    wedge-free graph). Directions, duplicate edges and self-loops are
    normalized away first — an input edge means "these two nodes are
    linked". The transitivity census is the standard corpus-graph
    health metric next to [[pagerank]] and `connected_components`
    (a crawl graph's clustering says how community-like it is).

    Plan — the node-iterator-with-orientation algorithm (Schank &
    Wagner 2005), the shape every distributed triangle counter uses:
    orient each edge from its lower-(degree, id) endpoint to the
    higher; every triangle then has exactly ONE apex pointing at the
    other two, so wedge expansion from forward-adjacency lists counts
    each triangle once, and the expansion is bounded by m^1.5 overall
    (max forward-degree ≤ √(2m)) instead of Σ deg² — the skew
    protection that makes a star graph cost m, not deg². Wedges
    semi-join the canonical edge set on the (min, max) key; the final
    scalar combine broadcasts two one-row aggregates (constant-size
    BroadcastNestedLoopJoin, the pagerank dangling-fold device)."""
    a = F.col(src).cast("long")
    b = F.col(dst).cast("long")
    # Materialize the canonical edge set once — it feeds the degree
    # union, the orientation join and the wedge-closing semi-join, so
    # without the checkpoint the upstream edge pipeline (often a
    # self-join + distinct) plans and executes once per consumer
    # (round 16, guide §2.4 — same device as link_prediction's).
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    counts = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("wedges"),
    )
    e = und.join(
        deg.select(F.col("n").alias("u"), F.col("deg").alias("__du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("deg").alias("__dv")), "v")
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    fwd = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    adj = fwd.groupBy("s").agg(F.sort_array(F.collect_list("t")).alias("g"))
    n = F.size("g")
    # Streaming i<j expansion (posexplode + suffix-slice explode) instead
    # of materializing all C(deg, 2) wedge structs as one array per apex
    # row — O(deg) peak state, no pair-array copy; g is sorted and
    # duplicate-free, so the suffix element is always the greater
    # endpoint. Same rewrite (and measurement) as link_prediction's.
    wedges_df = (
        adj.filter(n >= 2)
        .select("g", F.posexplode("g").alias("__i", "u"))
        .select(
            "u",
            F.explode(
                F.slice(F.col("g"), F.col("__i") + 2, F.size("g"))
            ).alias("v"),
        )
    )
    tri = wedges_df.join(und, ["u", "v"], "left_semi").agg(
        F.count(F.lit(1)).alias("triangles")
    )
    return counts.join(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "wedges",
        "triangles",
        F.when(
            F.col("wedges") > 0,
            F.round(3.0 * F.col("triangles") / F.col("wedges"), 6),
        ).alias("global_cc"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
) -> DataFrame:
    """The k-core of an undirected graph (Seidman 1983; the standard
    "dense part" extraction beside [[pagerank]] and `triangle_stats` —
    crawl-graph spam rings and community nuclei live in high cores):
    iteratively peel every node of degree < k until the fixed point,
    returning the surviving nodes with their WITHIN-CORE degree
    (node BIGINT, degree BIGINT). Empty result when no k-core exists.
    Direction, duplicate edges and self-loops normalize away first.

    Plan: the connected-components loop discipline — per round one
    degree aggregation + one semi-join edge filter, `localCheckpoint`
    to pin each round's edge set (lineage re-execution is invisible in
    explain and deadly across rounds), driver-side convergence test on
    the edge count (a scalar action per round, the documented cost of
    every fixed-point loop here). Rounds are data-bounded: each
    non-final round removes ≥1 node, and real graphs converge in a
    handful. No SQL oracle: peeling needs per-round aggregation over
    the recursive relation, which recursive CTEs cannot express — the
    pytest hand graphs (known cores, peel-cascade case) are the
    evidence, the `connected_components` precedent."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    a = F.col(src).cast("long")
    b = F.col(dst).cast("long")
    # Lazy checkpoints throughout the peel loop: the round's edge count
    # is the job that materializes the round's edge set — one job per
    # round instead of materialize + count (round 16, guide §5).
    e = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    for _ in range(max_iters):
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("n")
        e2 = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        n2 = e2.count()
        if n2 == n_edges:
            break
        e, n_edges = e2, n2
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
    )
    return deg


def assortativity(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Degree assortativity of an undirected graph (Newman 2002) — the
    one-number mixing diagnostic a crawl/link/co-occurrence graph gets
    screened with: r > 0 means high-degree nodes attach to high-degree
    nodes (social-network-like), r < 0 means hubs attach to leaves
    (web/biology-like), and a SHIFT between snapshots means the graph's
    growth regime changed. Computed as the Pearson correlation of the
    endpoint degrees over the DIRECTED edge list (both orientations of
    every undirected edge — the standard symmetrization):

        r = (L·Σxy − Σx·Σy) / sqrt(L·Σx² − (Σx)²) / sqrt(L·Σy² − (Σy)²)

    Output one row: (n_nodes, n_edges BIGINT, mean_degree DOUBLE,
    assortativity DOUBLE round 6; NULL for a degree-regular graph —
    zero variance means mixing is undefined, not zero). Input edges
    are deduplicated to canonical (min, max) pairs; self-loops drop.

    Plan: degrees are one exploded groupBy; each edge joins its two
    endpoint degrees node-keyed; the correlation is a 1-row closed-form
    agg over the 2·m orientation rows. Everything is edge-/node-sized —
    no adjacency materialization."""
    u, v = F.col(src), F.col(dst)
    und = (
        edges.filter(u.isNotNull() & v.isNotNull() & (u != v))
        .select(
            F.least(u, v).alias("__u"), F.greatest(u, v).alias("__v")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("__u").alias("n"))
        .unionAll(und.select(F.col("__v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    both = und.unionAll(
        und.select(F.col("__v").alias("__u"), F.col("__u").alias("__v"))
    )
    j = (
        both.join(deg.withColumnRenamed("n", "__u")
                  .withColumnRenamed("d", "__dx"), on="__u")
        .join(deg.withColumnRenamed("n", "__v")
              .withColumnRenamed("d", "__dy"), on="__v")
    )
    dx = F.col("__dx").cast("double")
    dy = F.col("__dy").cast("double")
    agg = j.agg(
        F.count(F.lit(1)).alias("__L"),
        F.sum(dx).alias("__sx"),
        F.sum(dy).alias("__sy"),
        F.sum(dx * dy).alias("__sxy"),
        F.sum(dx * dx).alias("__sxx"),
        F.sum(dy * dy).alias("__syy"),
    ).crossJoin(
        F.broadcast(deg.agg(
            F.count(F.lit(1)).alias("__nn"), F.sum("d").alias("__sd")
        ))
    )
    L = F.col("__L").cast("double")
    vx = F.greatest(L * F.col("__sxx") - F.col("__sx") * F.col("__sx"),
                    F.lit(0.0))
    vy = F.greatest(L * F.col("__syy") - F.col("__sy") * F.col("__sy"),
                    F.lit(0.0))
    r = F.when(
        (vx > 0) & (vy > 0),
        (L * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
        / F.sqrt(vx) / F.sqrt(vy),
    )
    return agg.select(
        F.col("__nn").alias("n_nodes"),
        (F.col("__L") / 2).cast("bigint").alias("n_edges"),
        (F.round(F.col("__sd").cast("double") / F.col("__nn"), 6) + 0.0)
        .alias("mean_degree"),
        (F.round(r, 6) + 0.0).alias("assortativity"),
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "u",
    dst: str = "v",
    node_col: str = "n",
    comm_col: str = "c",
) -> DataFrame:
    """Modularity of a community assignment (Newman & Girvan 2004) —
    the score every community-detection result is judged by, and the
    audit for ANY grouping you impose on a graph (do near-dup clusters
    respect the link structure? did sharding cut across communities?):
    per community c, the fraction of edges inside it minus the
    fraction expected at random given its degree mass,

        q_c = e_c / m − (d_c / 2m)²      Q = Σ_c q_c

    Output, one row per community: (community, n_nodes BIGINT,
    inner_edges BIGINT, degree_sum BIGINT, q DOUBLE round 6);
    sum(q) is the modularity. Unassigned nodes form no community rows
    but their degree still counts in m (document your coverage);
    self-loops drop, edges deduplicate to canonical pairs.

    Plan: degrees are one exploded groupBy; community joins are
    NODE-KEYED (two for the edge endpoints, one for the degree table);
    everything aggregates to community-sized rows. No adjacency
    materialization, no per-community subgraph extraction."""
    u, v = F.col(src), F.col(dst)
    und = (
        edges.filter(u.isNotNull() & v.isNotNull() & (u != v))
        .select(
            F.least(u, v).alias("__u"), F.greatest(u, v).alias("__v")
        )
        .distinct()
    )
    m_tot = und.agg(F.count(F.lit(1)).alias("__m"))
    deg = (
        und.select(F.col("__u").alias("node"))
        .unionAll(und.select(F.col("__v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    cm = communities.select(
        F.col(node_col).alias("node"), F.col(comm_col).alias("community")
    )
    dstats = (
        deg.join(cm, on="node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("__d").alias("degree_sum"),
        )
    )
    cu = cm.select(F.col("node").alias("__u"),
                   F.col("community").alias("__cu"))
    cv = cm.select(F.col("node").alias("__v"),
                   F.col("community").alias("__cv"))
    inner = (
        und.join(cu, on="__u")
        .join(cv, on="__v")
        .filter(F.col("__cu") == F.col("__cv"))
        .groupBy(F.col("__cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("inner_edges"))
    )
    j = (
        dstats.join(inner, on="community", how="left")
        .na.fill({"inner_edges": 0})
        .crossJoin(F.broadcast(m_tot))
    )
    m = F.col("__m").cast("double")
    q = (
        F.col("inner_edges").cast("double") / m
        - (F.col("degree_sum").cast("double") / (2.0 * m))
        * (F.col("degree_sum").cast("double") / (2.0 * m))
    )
    return j.select(
        "community",
        "n_nodes",
        F.col("inner_edges").cast("bigint").alias("inner_edges"),
        F.col("degree_sum").cast("bigint").alias("degree_sum"),
        (F.round(q, 6) + 0.0).alias("q"),
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_n: int = 50,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbors / Adamic-Adar link prediction (Adamic & Adar
    2003; Liben-Nowell & Kleinberg 2003) — score non-adjacent node
    pairs at distance 2 by their shared neighborhood, the classic
    "which edge is missing" ranking for graph cleanup and
    crawl-frontier discovery:

        CN(u,v) = |N(u) ∩ N(v)|
        AA(u,v) = sum_{w in N(u) ∩ N(v)} 1 / ln(deg w)

    (a common neighbor has degree >= 2 by construction, so ln(deg w)
    is never 0). Directions/dups/self-loops normalize away first.

    Output: top_n rows (u, v BIGINT, cn BIGINT, aa DOUBLE round 6),
    ordered by (round(aa, 6) DESC, u, v) — the rounded score orders
    the cut so an accumulation-order ulp can never flip the top-k
    membership across engines/retries (the repo's total-order rule).

    Plan shape: evidence pairs are generated per common neighbor w
    from w's sorted adjacency list (one grouped agg; each unordered
    pair emitted exactly once per witness), cost = sum_w C(deg w, 2)
    — the wedge count, which IS the information content of the
    statistic. `max_degree` (optional) skips hub witnesses above the
    cap, the standard guard on skewed corpus graphs (a 10^6-degree
    hub contributes ~1/ln(10^6) ≈ 0.07 per pair across 10^12 pairs —
    all cost, no signal). Existing edges leave via one anti-join;
    the cut is a TakeOrdered, never a full sort.
    """
    a = F.col(src).cast("long")
    b = F.col(dst).cast("long")
    # Materialize the canonical edge set once: it feeds BOTH adjacency
    # legs and the existing-edge anti-join — without the checkpoint the
    # upstream edge pipeline (here often a self-join + distinct) plans
    # and executes three times (the before-plan's three identical
    # scan+join+distinct subtrees; initial-plan ReusedExchange = 0).
    # Edge lists are the graph itself — one materialization vs three
    # executions is the right trade at any scale (round 16, guide §2.4).
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    adj_dir = und.select(
        F.col("u").alias("w"), F.col("v").alias("x")
    ).unionAll(und.select(F.col("v").alias("w"), F.col("u").alias("x")))
    neigh = adj_dir.groupBy("w").agg(
        F.sort_array(F.collect_list("x")).alias("g")
    )
    if max_degree is not None:
        neigh = neigh.filter(F.size("g") <= max_degree)
    n = F.size("g")
    # Streaming i<j pair expansion in two chained generators (posexplode
    # the adjacency list, then explode each element's suffix slice) — the
    # same device as dedup's in-bucket pair expansion. The earlier
    # flatten(transform(transform)) form materialized all C(deg, 2)
    # structs as ONE array per witness row before exploding: O(deg²)
    # peak per-row state and a full extra copy of every pair. Measured
    # round 15 (sf0.1 co-purchase graph, 10.2M wedges, interleaved
    # min-of-3): scored-agg noop 7.85 s → 4.96 s.
    wedges = (
        neigh.filter(n >= 2)
        .select(
            (F.lit(1.0) / F.log(n.cast("double"))).alias("__w_aa"),
            "g",
            F.posexplode("g").alias("__i", "u"),
        )
        .select(
            "u",
            F.explode(
                F.slice(F.col("g"), F.col("__i") + 2, F.size("g"))
            ).alias("v"),
            "__w_aa",
        )
    )
    # Repartition by the pair key BEFORE the aggregation so both agg
    # passes run post-exchange and the exchange carries raw narrow rows
    # (u, v, __w_aa) instead of partial-agg buffers. Map-side partial
    # aggregation is structurally near-useless for wedge aggregation: a
    # pair's witnesses are DIFFERENT w rows, distributed across map
    # tasks by the adjacency groupBy's w-partitioning, so within-map-
    # task pair duplication is ~1 regardless of the graph (measured
    # 10.17M wedges -> 9.00M distinct pairs at sf0.1, 1.13:1) — yet the
    # partial pass builds a hash table over every wedge row per task.
    # Measured (round 16, min-of-3 noop): scored agg 4.73 s -> 2.34 s;
    # exchange-only floor 2.09 s. No partition count pinned: the
    # exchange uses spark.sql.shuffle.partitions and stays
    # AQE-coalescible (guide §1.2 per-task work, §2.3). Caveat: on a dense
    # graph with few map partitions relative to a pair's witness count,
    # witnesses do co-locate map-side, so skipping the partial pass ships
    # more rows than the planner's partial-agg plan would.
    scored = wedges.repartition("u", "v").groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.round(F.sum("__w_aa"), 6).alias("aa"),
    )
    cand = scored.join(und, ["u", "v"], "left_anti")
    return cand.orderBy(
        F.col("aa").desc(), F.col("u").asc(), F.col("v").asc()
    ).limit(top_n)


def local_clustering(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node clustering coefficient — the local companion of
    `triangle_stats`' global transitivity: for each node,
    cc = T_v / C(deg v, 2), the fraction of its neighbor pairs that
    are themselves linked (community-embeddedness per node; the
    spam-farm / bridge-node discriminator). cc is NULL for deg < 2.
    Directions/dups/self-loops normalize away first.

    Output: one row per node (node BIGINT, deg BIGINT, triangles
    BIGINT, cc DOUBLE round 6).

    Plan shape: triangles are enumerated ONCE by the Schank-Wagner
    degree-oriented wedge expansion (bounded m^1.5 — the
    triangle_stats plan), keeping the apex; closing the wedge is an
    inner equi-join on the canonical (u, v) edge key; each closed
    triangle then credits its three corners via one 3-element
    posexplode and a node-keyed count. No per-node neighborhood
    intersection ever materializes.
    """
    a = F.col(src).cast("long")
    b = F.col(dst).cast("long")
    # Canonical edge set materialized once — three consumers (degree
    # union, orientation join, triangle-closing join); see
    # triangle_stats/link_prediction (round 16, guide §2.4).
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    e = und.join(
        deg.select(F.col("n").alias("u"), F.col("deg").alias("__du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("deg").alias("__dv")), "v")
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    fwd = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    adj = fwd.groupBy("s").agg(F.sort_array(F.collect_list("t")).alias("g"))
    nsz = F.size("g")
    # Streaming i<j expansion — see triangle_stats/link_prediction for
    # the rationale and round-15 measurement; g sorted + duplicate-free
    # makes the suffix element the greater endpoint.
    tri = (
        adj.filter(nsz >= 2)
        .select(
            F.col("s").alias("apex"),
            "g",
            F.posexplode("g").alias("__i", "u"),
        )
        .select(
            "apex",
            "u",
            F.explode(
                F.slice(F.col("g"), F.col("__i") + 2, F.size("g"))
            ).alias("v"),
        )
        .join(und, ["u", "v"])  # closing edge exists -> a triangle
        .select(
            F.explode(
                F.array(F.col("apex"), F.col("u"), F.col("v"))
            ).alias("n")
        )
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    out = deg.join(tri, "n", "left").select(
        F.col("n").alias("node"),
        "deg",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
            "triangles"
        ),
        F.round(
            F.when(
                F.col("deg") >= 2,
                F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                / (F.col("deg").cast("double") * (F.col("deg") - 1) / 2.0),
            ),
            6,
        ).alias("cc"),
    )
    return out


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Bounded multi-source BFS distances over an undirected graph —
    hop counts from a seed set, the reachability/locality primitive
    (crawl-depth labeling, contamination-radius checks around flagged
    nodes). Fixed `max_depth` rounds of min-distance relaxation make
    the loop the SAME function of the input as an unrolled replay at
    any SF (the kcore/g_pagerank fixed-round device): a relaxation
    round at the fixed point is a no-op, so converging early is
    absorbed. Nodes not reached within max_depth are absent from the
    output (no +inf sentinel).

    Output: (node BIGINT, dist INT), dist in [0, max_depth].

    Plan: per round ONE node-keyed min-aggregation over
    (current ∪ frontier-neighbors) — the frontier join is an equi-join
    on the adjacency key; `localCheckpoint` per round bounds lineage
    (the connected-components loop discipline). Distances propagate as
    partial-agged MIN — no driver state, no collect.
    """
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    a = F.col(src).cast("long")
    b = F.col(dst).cast("long")
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionAll(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
    adj = adj.localCheckpoint(eager=False)
    dist = (
        sources.select(F.col(node_col).cast("long").alias("n"))
        .distinct()
        .select("n", F.lit(0).alias("d"))
    )
    for _ in range(max_depth):
        hop = (
            dist.join(adj, dist["n"] == adj["a"])
            .select(F.col("b").alias("n"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionAll(hop)
            .groupBy("n")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return dist.select(
        F.col("n").alias("node"), F.col("d").cast("int").alias("dist")
    )


def powerlaw_alpha(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    d_min: int = 1,
) -> DataFrame:
    """Degree-distribution power-law fit (continuous MLE, Clauset,
    Shalizi & Newman 2009) — the graph-health scalar beside
    `triangle_stats`: scale-free corpus graphs (links, co-purchase,
    citation) show alpha ~ 2-3; a much larger alpha means the tail is
    thin (no hubs), much smaller means hub-dominated skew the
    partitioner must plan for:

        alpha = 1 + n / sum ln(d_i / d_min)   over degrees >= d_min

    Directions/dups/self-loops normalize away first.

    Output: ONE row (n_nodes BIGINT, d_min INT, mean_deg DOUBLE
    round 4, alpha DOUBLE round 6) — alpha NULL when every degree
    equals d_min (the log-sum is 0).

    Plan: one node-keyed degree count + ONE 1-row fold; alpha is a
    scalar ratio.
    """
    if d_min < 1:
        raise ValueError("d_min must be >= 1")
    a = F.col(src).cast("long")
    b = F.col(dst).cast("long")
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    kept = deg.filter(F.col("d") >= d_min)
    g = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.avg("d").alias("__mean"),
        F.sum(F.log(F.col("d") / F.lit(float(d_min)))).alias("__ls"),
    )
    return g.select(
        "n_nodes",
        F.lit(d_min).cast("int").alias("d_min"),
        F.round(F.col("__mean"), 4).alias("mean_deg"),
        F.round(
            F.when(
                F.col("__ls") > 0,
                F.lit(1.0)
                + F.col("n_nodes").cast("double") / F.col("__ls"),
            ),
            6,
        ).alias("alpha"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) — hub and authority
    scores over a directed graph, the bipartite-flavored companion of
    `pagerank` (a node can be a great DIRECTORY without being a great
    DESTINATION; PageRank conflates the two):

        a'(v) = sum_{u->v} h(u)      then L1-normalize
        h'(u) = sum_{u->v} a'(v)     then L1-normalize

    L1 normalization (not the textbook L2) keeps every round a pure
    sum/divide — exactly replayable SQL, same fixed-budget showpiece
    convention as `pagerank`/`kmeans_fit`. Duplicate edges collapse;
    scores start uniform at 1.0.

    Output: (id, hub DOUBLE round 6, authority DOUBLE round 6) over
    src ∪ dst. Per round: two edge joins + two partial-aggregated
    groupBys + two 1-row normalizer broadcasts; edges and the node
    set checkpoint once, scores per round (the pagerank lineage
    discipline)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).distinct().localCheckpoint()
    nodes = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    h = nodes.select("id", F.lit(1.0).alias("h")).localCheckpoint()
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.withColumnRenamed("id", "a"), "a")
            .groupBy("b")
            .agg(F.sum("h").alias("__ar"))
            .withColumnRenamed("b", "id")
        )
        s_a = a_raw.agg(F.sum("__ar").alias("__s"))
        a = (
            nodes.join(a_raw, "id", "left")
            .join(F.broadcast(s_a))
            .select(
                "id",
                F.when(
                    F.col("__s") > 0,
                    F.coalesce(F.col("__ar"), F.lit(0.0))
                    / F.col("__s"),
                )
                .otherwise(F.lit(0.0))
                .alias("auth"),
            )
            .localCheckpoint()
        )
        h_raw = (
            e.join(a.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.sum("auth").alias("__hr"))
            .withColumnRenamed("a", "id")
        )
        s_h = h_raw.agg(F.sum("__hr").alias("__s"))
        h = (
            nodes.join(h_raw, "id", "left")
            .join(F.broadcast(s_h))
            .select(
                "id",
                F.when(
                    F.col("__s") > 0,
                    F.coalesce(F.col("__hr"), F.lit(0.0))
                    / F.col("__s"),
                )
                .otherwise(F.lit(0.0))
                .alias("h"),
            )
            .localCheckpoint()
        )
    return h.join(a, "id").select(
        "id",
        (F.round(F.col("h"), 6) + F.lit(0.0)).alias("hub"),
        (F.round(F.col("auth"), 6) + F.lit(0.0)).alias("authority"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) — the near-linear-time community member
    rounding out the graph shelf (pagerank / k-core / triangles /
    connected components / link prediction): every node starts in its
    own community (label = node id) and each round SIMULTANEOUSLY
    adopts the most frequent label among its neighbors,

        label'(v) = argmax_l |{u ~ v : label(u) = l}|

    with the DETERMINISTIC tie-break of the smallest label among the
    argmax set (the classic async random tie-break is useless under an
    oracle; min-label is also what makes the fixed point unique given
    the schedule). Fixed `iters` rounds, synchronous schedule — the
    pagerank/kcore discipline: no float-threshold convergence test,
    the whole run replays as unrolled SQL, and extra rounds at a fixed
    point are no-ops (though synchronous LPA can 2-cycle on bipartite
    structures, which a FIXED round count also makes deterministic).

    Input edges are treated as UNDIRECTED: (src, dst) symmetrizes and
    dedups; self-loops drop (a node voting for itself would freeze
    every island). Output: (node, label) — one row per node incident
    to at least one surviving edge; community ids are label values
    (min node id of the flooding community, typically), not
    canonicalized ranks.

    Plan per round: one equi-join of the current labels onto the
    symmetrized edge list (neighbor label lookup), one
    (node, label)-keyed partial-agged count, one node-keyed argmax
    fold (max of a (count, -label) struct — the min-label tie-break as
    a single aggregate, no rank window). Edges checkpoint once, labels
    per round (the CC lineage lesson). Everything shuffles on node
    ids; nothing is ever quadratic in degree."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    sc = F.col(src).cast("long")
    dc = F.col(dst).cast("long")
    e = (
        edges.filter(sc.isNotNull() & dc.isNotNull() & (sc != dc))
        .select(sc.alias("u"), dc.alias("v"))
    )
    und = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for it in range(iters):
        nb = und.join(
            labels, und["v"] == labels["node"]
        ).select(F.col("u").alias("node"), "label")
        cnt = nb.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("__c").alias("c"),
                        (-F.col("label")).alias("nl"),
                    )
                ).alias("__m")
            )
            .select("node", (-F.col("__m.nl")).alias("label"))
        )
        if it < iters - 1:  # bound lineage BETWEEN rounds (the CC
            labels = labels.localCheckpoint()  # lesson); the final
            # round stays declarative so callers see the round plan
    return labels
