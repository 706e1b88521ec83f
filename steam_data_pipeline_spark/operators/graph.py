"""Graph analytics: fixed-point integer PageRank, exact triangle
counting / clustering coefficient, k-core decomposition, synchronous
label propagation and multi-source BFS hop profiles.

Why it's here: web-scale pretraining pipelines weight documents by
link-graph centrality (PageRank over the crawl graph is a standard
quality signal — see e.g. the public CommonCrawl ranking datasets).
The reference pipeline has no graph op; at 100 TB the crawl graph is a
first-class input, so the engine carries one.

Why INTEGER arithmetic: float PageRank is not reproducible across
engines (per-destination sums are order-dependent doubles), so a
float implementation could never be value-hash-oracled. This one
represents probability mass in micro-units (SCALE = 10^12) and uses
only BIGINT add / multiply / floor-divide — deterministic on any
engine, any partitioning, any iteration order. Each floor-divide
leaks < 1 micro-unit of mass per node per iteration (bounded,
one-sided, documented), which is far below any ranking-relevant
difference after the standard 4-10 iterations.

Driver cost: every iterative operator builds its static edge table
once, behind one eager ``localCheckpoint``, and then pays as few eager
jobs per round as its recurrence allows. PageRank's next ranks need
two reads of the previous ranks (the contribution join and the
dangling-mass sum), so it checkpoints the ranks every iteration and
its plan never doubles. BFS and label propagation read the previous
round once, so their rounds stay lazy and run inside the returned
plan (label propagation adds a lazy checkpoint every second round);
k-core's fixpoint test is a data-dependent exit, so it checkpoints
and counts its active set each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SCALE = 10**12


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    damping_pct: int = 85,
    n_iter: int = 4,
) -> DataFrame:
    """Integer PageRank over ``nodes(node)`` / ``edges(src, dst)``.

    damping_pct is an integer percentage (85 → d=0.85) so damping is
    exact: ``mass * damping_pct // 100``. Per iteration:

      share(s)  = (rank(s) * d%) // outdeg(s)          (outdeg > 0)
      dangling  = Σ rank(s) * d% // 100 over outdeg==0 nodes, // N
      base      = (SCALE * (100 − d%)) // 100 // N
      rank'(v)  = base + dangling + Σ share(s) over s→v edges

    Duplicate edges are collapsed first (unweighted graph); self-loops
    are kept (standard PageRank semantics). An edge with a NULL
    ``dst`` counts toward its source's out-degree but its share
    reaches no node; an edge with a NULL ``src`` has no source node
    and is ignored. Returns ``(node, rank_micro)`` with
    Σ rank_micro ≤ SCALE (floor leakage).

    The ``(src, dst, deg)`` adjacency and the node spine, flagged
    ``dangling`` where a node has no out-edge, are each checkpointed
    once. Per iteration: one join of the ranks onto the adjacency and
    one map-side-combined ``groupBy(dst)`` of the shares; the dangling
    mass is a global sum over the flagged rows of the ranks alone, so
    it needs no join and no ``dst`` value — NULL included — can ever
    reach it; a left join onto the spine adds base and dangling share.
    An iteration reads the previous ranks twice, so they are
    checkpointed before every iteration after the first: each
    iteration's plan starts at checkpoint leaves instead of repeating
    the whole previous tree twice, and the returned plan holds only
    the last iteration.
    """
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    adj = e.join(deg, on="src").localCheckpoint(eager=True)
    src_deg = adj.select("src", "deg").dropDuplicates(["src"])
    spine = (
        nodes.select(F.col("node").cast("long").alias("node"))
        .join(src_deg, on=F.col("node") == src_deg["src"], how="left")
        .select("node", F.col("deg").isNull().alias("dangling"))
        .localCheckpoint(eager=True)
    )
    n = spine.count()  # node count is a scalar the formula needs
    base = (SCALE * (100 - damping_pct)) // 100 // n

    ranks = spine.withColumn("rank", F.lit(SCALE // n).cast("long"))
    for it in range(n_iter):
        if it:
            ranks = ranks.localCheckpoint(eager=True)
        inflow = (
            ranks.join(adj, on=ranks["node"] == adj["src"])
            .groupBy("dst")
            .agg(
                F.sum(F.expr(f"({damping_pct} * rank) div 100 div deg"))
                .cast("long")
                .alias("inflow")
            )
        )
        dshare = ranks.filter("dangling").agg(
            F.expr(f"coalesce(sum(({damping_pct} * rank) div 100), 0) div {n}")
            .cast("long")
            .alias("dshare")
        )
        ranks = (
            spine.join(inflow, on=F.col("node") == inflow["dst"], how="left")
            .crossJoin(F.broadcast(dshare))
            .select(
                "node",
                "dangling",
                (
                    F.lit(base)
                    + F.col("dshare")
                    + F.coalesce(F.col("inflow"), F.lit(0))
                )
                .cast("long")
                .alias("rank"),
            )
        )
    return ranks.select("node", F.col("rank").alias("rank_micro"))


def pagerank_oracle_sql(
    node_sql: str,
    edge_sql: str,
    damping_pct: int = 85,
    n_iter: int = 4,
) -> str:
    """Generate the DuckDB oracle for :func:`pagerank` by unrolling
    the iterations as chained CTEs — same integer ops (``//`` is
    BIGINT floordiv in DuckDB; operands are never negative, so
    floor == trunc == Spark's ``div``). The dangling test skips the
    NULL ``src`` group: ``NOT IN`` over a set holding NULL is never
    true, which would silently zero the dangling mass."""
    pre = f"""
    WITH pr_nodes AS ({node_sql}),
    pr_e AS (SELECT DISTINCT src, dst FROM ({edge_sql})),
    pr_deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM pr_e GROUP BY src),
    pr_nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pr_nodes),
    r0 AS MATERIALIZED (SELECT node,
           CAST({SCALE} AS BIGINT) // (SELECT n FROM pr_nn) AS rank
           FROM pr_nodes)"""
    steps = []
    for i in range(n_iter):
        prev, cur = f"r{i}", f"r{i + 1}"
        steps.append(f"""
    sh{i} AS (
      SELECT r.node AS src, ({damping_pct} * r.rank) // 100 // d.deg AS share
      FROM {prev} r JOIN pr_deg d ON d.src = r.node
    ),
    dg{i} AS (
      SELECT CAST(COALESCE(SUM(({damping_pct} * r.rank) // 100), 0)
                  // (SELECT n FROM pr_nn) AS BIGINT) AS dshare
      FROM {prev} r
      WHERE r.node NOT IN (SELECT src FROM pr_deg WHERE src IS NOT NULL)
    ),
    inf{i} AS (
      SELECT pr_e.dst, CAST(SUM(s.share) AS BIGINT) AS inflow
      FROM pr_e JOIN sh{i} s ON s.src = pr_e.src GROUP BY pr_e.dst
    ),
    {cur} AS MATERIALIZED (
      SELECT n.node,
             CAST(({SCALE} * {100 - damping_pct}) // 100 // (SELECT n FROM pr_nn)
                  + (SELECT dshare FROM dg{i})
                  + COALESCE(i.inflow, 0) AS BIGINT) AS rank
      FROM pr_nodes n LEFT JOIN inf{i} i ON i.dst = n.node
    )""")
    return (
        pre
        + ","
        + ",".join(steps)
        + f"\n    SELECT node, rank AS rank_micro FROM r{n_iter}"
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected simple graph (self-loops dropped, multi-edges
    collapsed, direction ignored).

    Algorithm: degree-ordered edge orientation (each undirected edge
    points from its lower-(degree, id) endpoint to the higher one), so
    every triangle is counted EXACTLY once at its lowest-rank vertex
    and — the scale property — the oriented out-degree is bounded by
    O(√m) on any graph (a node of degree d only keeps out-edges to
    neighbors of degree ≥ d, and there are at most 2m/d of those), so
    the wedge join is Σ outdeg² ≤ O(m^1.5) instead of the Σ deg²
    blow-up a hub would cause under arbitrary orientation. This is the
    standard MapReduce/GraphX triangle-count shape.

    Returns ONE row, all exact integers plus one IEEE division:
    (n_nodes, n_edges, n_wedges, n_triangles, clustering) where
    n_wedges = Σ d(d−1)/2 over undirected degrees and clustering =
    3·triangles / wedges (a single correctly-rounded double division —
    engine-portable without tolerance).
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates(["a", "b"])
        # deliberately NOT cached: und feeds the degree count, the
        # wedge self-join and the closing-edge probe (18 re-derivations
        # of the pruned edge scan in one plan), but an A/B at 1x and
        # 10x measured caching SLOWER both times (3.40 vs 2.50 s at
        # 10x) — the cache barrier serializes branches that otherwise
        # scan in parallel, and the materialized frame defeats
        # per-branch column pruning. The iterative ops (kcore/bfs)
        # still checkpoint, which they need for lineage truncation.
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    # The rank is the (deg, id) TUPLE compared lexicographically —
    # never a global row_number, which would be a one-partition sort
    # over every node at scale. Struct comparison gives the same total
    # order with zero extra passes.
    withd = und.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withd.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dw"),
    )
    o1 = oriented.select(
        F.col("u"), F.col("w").alias("v"), F.col("dw").alias("dv")
    )
    o2 = oriented.select(F.col("u"), F.col("w"), F.col("dw"))
    wedges = (
        o1.join(o2, on="u")
        .filter(F.struct("dv", "v") < F.struct("dw", "w"))
        .select("v", "w")
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("w")),
        on=["v", "w"],
        how="left_semi",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        # integer div, not `/`: the float path loses exactness past
        # 2^53 wedges (sum(d*(d-1)) is always even, so div is exact)
        F.expr("sum(deg * (deg - 1)) div 2").cast("long").alias("n_wedges"),
    )
    n_edges = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   3.0 * F.col("n_triangles") / F.col("n_wedges"))
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 50,
) -> DataFrame:
    """The k-core of an undirected simple graph: the maximal subgraph
    where every node has degree ≥ k — the standard graph-hygiene pass
    (peel off low-connectivity fringe before community/centrality
    work). Iterative peeling: drop all nodes with degree < k, recompute
    degrees on the remainder, repeat until a fixpoint. Termination is
    DATA-dependent (each round either converges or strictly shrinks
    the node set, so rounds ≤ |V|; ``max_rounds`` is a safety cap) —
    the driver loop checks convergence with a node-set-sized count and
    ``localCheckpoint``s the active set so the plan stays bounded,
    same discipline as :func:`pagerank` and connected components.

    Per round: two semi-joins of the (static, cached) oriented edge
    table against the active set + one map-side-combined degree
    aggregate + one anti-join — everything node- or edge-sized, no
    driver-side data.

    Returns ``(node, core_deg)`` with core_deg ≥ k (degree counted
    within the core).
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )
    sym = und.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("w"))
    ).localCheckpoint(eager=True)
    def _deg(act):
        return (
            sym.join(act, on="v", how="left_semi")
            .join(act.select(F.col("v").alias("w")), on="w", how="left_semi")
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        )

    # The active set is node-sized, so checkpointing it EVERY round is
    # cheap and buys one-action-per-round convergence: nxt ⊆ active,
    # so |nxt| == |active| IS the fixpoint test — no anti-join probe,
    # and the count reuses the checkpoint instead of recomputing the
    # semi-join pipeline. The checkpoint keeps core_deg alongside v:
    # at the fixpoint nxt == active as SETS (the filter dropped
    # nothing), so the round's degrees — computed within active — ARE
    # the final core degrees, and returning them skips the one-more
    # _deg recomputation the convergence exit used to pay.
    active = sym.select("v").distinct().localCheckpoint(eager=True)
    n_active = active.count()
    for _rnd in range(max_rounds):
        nxt = (
            _deg(active)
            .filter(F.col("core_deg") >= k)
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        converged = n_nxt == n_active
        active, n_active = nxt.select("v"), n_nxt
        if converged:
            return nxt.select(F.col("v").alias("node"), "core_deg")
    # max_rounds exhausted without a fixpoint (the safety cap): the
    # last round's degrees are NOT final — recompute within the last
    # active set, preserving the capped-peel semantics exactly
    return _deg(active).filter(F.col("core_deg") >= k).select(
        F.col("v").alias("node"), "core_deg"
    )


def kcore_oracle_sql(edge_sql: str, k: int = 3, rounds: int = 12) -> str:
    """DuckDB oracle for :func:`kcore`: the peeling recurrence unrolled
    a FIXED ``rounds`` times (must be ≥ the fixture's convergence depth
    — converged rounds are no-ops, so overshooting is safe). Every CTE
    is MATERIALIZED: DuckDB inlines plain CTEs, and each round
    references the previous twice, so the un-materialized recurrence
    expands to 2^rounds base-table scans (observed as a
    too-many-open-files explosion at 12 rounds)."""
    pre = f"""
    WITH kc_und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({edge_sql}) WHERE src <> dst
    ),
    kc_sym AS MATERIALIZED (
      SELECT a AS v, b AS w FROM kc_und
      UNION ALL SELECT b, a FROM kc_und
    ),
    kn0 AS MATERIALIZED (SELECT DISTINCT v FROM kc_sym)"""
    steps = []
    for i in range(rounds):
        steps.append(f"""
    kd{i} AS MATERIALIZED (
      SELECT s.v, CAST(COUNT(*) AS BIGINT) AS core_deg
      FROM kc_sym s
      WHERE s.v IN (SELECT v FROM kn{i})
        AND s.w IN (SELECT v FROM kn{i})
      GROUP BY s.v
    ),
    kn{i + 1} AS MATERIALIZED (SELECT v FROM kd{i} WHERE core_deg >= {k})""")
    return (
        pre
        + ","
        + ",".join(steps)
        + f"""
    SELECT v AS node, core_deg FROM kd{rounds - 1} WHERE core_deg >= {k}"""
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (LPA), the
    deterministic variant: ``rounds`` full rounds where every node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken toward the SMALLEST label. Classic async LPA is
    run-order-dependent and unreproducible; the synchronous min-tie
    form is a pure dataflow recurrence — bit-identical on any engine
    and partitioning, so it value-hash-oracles (the DuckDB oracle in
    :func:`label_propagation_oracle_sql` unrolls the same rounds).

    Per round: one join of the cached symmetric edge table against the
    label frontier (shuffle on the edge source), a map-side-combined
    ``groupBy(node, lab)`` count, and an argmax-by-``(count, -label)``
    struct aggregate — never a row_number over a global sort. The edge
    table is built once, eagerly localCheckpoint-ed, and reused every
    round (a lazy persist would never materialize before the caller's
    first action and each round would rebuild it);
    ``localCheckpoint`` on the label frontier bounds lineage growth
    exactly as in :func:`pagerank`.

    Returns ``(node, lab)``, both BIGINT; ``lab`` is the community
    representative after ``rounds`` rounds.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").cast("long").alias("a"),
            F.greatest("src", "dst").cast("long").alias("b"),
        )
        .distinct()
    )
    sym = und.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
    # Eager localCheckpoint (not a lazy persist): the returned DataFrame
    # is evaluated long after this function exits, so a persist() here
    # would never materialize before a matching unpersist() and every
    # round would rebuild the distinct+union — same reasoning as
    # pagerank's edge table above.
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for i in range(rounds):
        nbr = sym.join(
            labels.withColumnRenamed("node", "u"), "u"
        ).select(F.col("v").alias("node"), "lab")
        cnt = nbr.groupBy("node", "lab").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"), (-F.col("lab")).alias("nl")
                    )
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("lab"))
        )
        if (i + 1) % 2 == 0:
            labels = labels.localCheckpoint(eager=False)
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("lab").cast("long").alias("lab"),
    )


def label_propagation_oracle_sql(edge_sql: str, rounds: int = 4) -> str:
    """DuckDB oracle for :func:`label_propagation`: the synchronous
    recurrence unrolled as MATERIALIZED CTEs (same reasoning as
    :func:`kcore_oracle_sql` — each round references the previous
    multiple times, so inlined CTEs would explode exponentially)."""
    pre = f"""
    WITH lp_und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({edge_sql}) WHERE src <> dst
    ),
    lp_sym AS MATERIALIZED (
      SELECT a AS u, b AS v FROM lp_und
      UNION ALL SELECT b, a FROM lp_und
    ),
    lp0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, u AS lab FROM lp_sym
    )"""
    steps = []
    for i in range(rounds):
        steps.append(f"""
    lpc{i} AS MATERIALIZED (
      SELECT s.v AS node, l.lab, COUNT(*) AS c
      FROM lp_sym s JOIN lp{i} l ON l.node = s.u
      GROUP BY 1, 2
    ),
    lp{i + 1} AS MATERIALIZED (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab ASC) AS rk
        FROM lpc{i}
      ) WHERE rk = 1
    )"""
        )
    return (
        pre
        + ","
        + ",".join(steps)
        + f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS lab
    FROM lp{rounds}"""
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS hop histogram over an undirected simple graph:
    for every node, the MINIMUM number of edges to any seed (capped at
    ``max_hops``), then one row per hop with count / id-sum / min / max
    of the nodes first reached there — the reachability profile a
    link-graph curation pass uses to answer "how far does trusted-seed
    influence propagate" (the BFS companion to :func:`pagerank`'s
    stationary weighting). Nodes never reached within the cap report
    hop = -1; seeds that are not graph nodes are ignored.

    Min-hop relaxation, the same dataflow shape as
    :func:`label_propagation`: the symmetric edge table gets one
    zero-weight self-loop per node (``step``, weight 1 on real edges)
    and is eagerly ``localCheckpoint``ed once. The distance table
    starts with every node: seeds at hop 0, the rest unreached (NULL,
    which ``min`` skips). Each of the ``max_hops`` rounds is one join
    of the distance table against ``step`` and one map-side-combined
    ``groupBy(v).min(hop + weight)``; the self-loops keep every node
    in the table and carry its distance into the next round, so after
    round h every node within h hops holds its minimum hop and no
    final join back onto the node set is needed. The rounds are lazy —
    no per-round checkpoint or emptiness probe — so the relaxation
    runs inside the returned plan, whose size is linear in
    ``max_hops``.

    Returns ``(hop, n_nodes, sum_node_ids, min_node, max_node)``.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )
    sym = und.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    loops = sym.select("v").distinct().select("v", F.col("v").alias("w"))
    step = (
        sym.withColumn("d", F.lit(1))
        .unionAll(loops.withColumn("d", F.lit(0)))
        .localCheckpoint(eager=True)
    )
    nodes = step.filter(F.col("d") == 0).select("v")
    dist = (
        nodes.join(seeds, on="v", how="left_semi")
        .select("v", F.lit(0).alias("hop"))
        .unionAll(
            nodes.join(seeds, on="v", how="left_anti").select(
                "v", F.lit(None).cast("int").alias("hop")
            )
        )
    )
    for _ in range(max_hops):
        dist = (
            dist.join(step, on="v")
            .groupBy(F.col("w").alias("v"))
            .agg(F.min(F.col("hop") + F.col("d")).alias("hop"))
        )
    tagged = dist.select("v", F.coalesce(F.col("hop"), F.lit(-1)).alias("hop"))
    return (
        tagged.groupBy(F.col("hop").cast("int").alias("hop"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("v").cast("long").alias("sum_node_ids"),
            F.min("v").cast("long").alias("min_node"),
            F.max("v").cast("long").alias("max_node"),
        )
    )


def bfs_hops_oracle_sql(
    edge_sql: str, seed_sql: str, max_hops: int = 4
) -> str:
    """DuckDB oracle for :func:`bfs_hops`: a bounded recursive CTE
    enumerates every (node, hop ≤ max_hops) walk endpoint (UNION
    dedups rows, so the working set is ≤ |V|·(max_hops+1)); MIN(hop)
    per node is exactly the BFS first-reach level. The iterative
    frontier algorithm and the declarative recursion must agree on
    every hop's count, id-sum and extrema."""
    return f"""
    WITH RECURSIVE e AS ({edge_sql}),
    und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM e WHERE src <> dst),
    sym AS (SELECT a AS v, b AS w FROM und
            UNION ALL SELECT b, a FROM und),
    nodes AS (SELECT DISTINCT v FROM sym),
    seeds AS ({seed_sql}),
    walk(node, hop) AS (
      SELECT n.v, 0 FROM nodes n WHERE n.v IN (SELECT v FROM seeds)
      UNION
      SELECT s.w, walk.hop + 1
      FROM walk JOIN sym s ON s.v = walk.node
      WHERE walk.hop < {max_hops}
    ),
    best AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node),
    tagged AS (
      SELECT n.v AS node, COALESCE(b.hop, -1) AS hop
      FROM nodes n LEFT JOIN best b ON b.node = n.v
    )
    SELECT CAST(hop AS INT) AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS sum_node_ids,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM tagged GROUP BY 1
    """
