"""Iterative graph operators (SURVEY §2.11 scale family).

PageRank is THE canonical iterative-shuffle workload: each iteration is a
join (ranks × edges) plus a key-partitioned aggregation, repeated. The
implementation is pure DataFrame — Catalyst plans every iteration's join
and partial aggregation, and at cluster scale the edge table's hash
partitioning on ``src``/``dst`` is reused across iterations (AQE coalesces
the post-shuffle sides). Every edge list is built pairs-first by
``common._mirror``; BFS, min-plus, connected components and
ext-dedup-cluster (ext_pipeline.py) run the one min-propagation loop
``common._min_propagate``; PageRank and personalized PageRank share
``_rank_hops``.

Determinism device: fixed-point integer arithmetic. Ranks are scaled to
10^15 and every operation is BIGINT add / multiply / integer-divide, so
the result is bit-identical in any engine and under any partitioning or
reduction order — float PageRank would diverge across engines in the sum
order. Total mass 10^15 bounds every intermediate below 8.5e16, far
inside BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbtwiz_spark.ops.common import _min_propagate, _mirror, _truncate, views
from dbtwiz_spark.ops.registry import register

_SCALE = 1_000_000_000_000_000  # 10^15 fixed-point scale
_ITER = 3
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio

# Derived graph tables (edge lists, degree tables, converged state) are
# catalog artifacts (`Catalog.artifact`). Without them every iteration of
# an iterative op RE-DERIVES the edge list from the base tables (the rank
# lineage references edges once per hop), which measured 13 s for 3-hop
# PageRank at sf0.1 vs ~2 s with the edge artifact cached. On a cluster
# the same role is played by a checkpointed/materialized edge table.
# Builders that end in `_truncate` (or `_mirror`) store the checkpoint as
# is: stacking persist() on checkpoint blocks would store every table
# twice.


def _purchases(cat):
    o, li = cat.table("orders"), cat.table("lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey)


def _cs():
    """The 'c<custkey>' / 's<suppkey>' node names the oracles use."""
    return (
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
    )


# the bounded demo subgraph of BFS, min-plus and connected components
_BOUNDED = "l_suppkey <= 50 AND o_custkey <= 500"


def _pagerank_oracle() -> str:
    base = f"({_SCALE * 15 // 100} // nn.n)"
    sql = f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (
        SELECT node, degree, CAST({_SCALE} AS BIGINT) // nn.n AS rank
        FROM deg, nn)
    """
    prev = "r0"
    for i in range(1, _ITER + 1):
        sql += f""",
    r{i} AS (
        SELECT e.dst AS node, d.degree,
               {base} + ({_DAMP_NUM} * SUM(r.rank // r.degree)) // {_DAMP_DEN}
                 AS rank
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN deg d ON e.dst = d.node, nn
        GROUP BY e.dst, d.degree, nn.n)
        """
        prev = f"r{i}"
    sql += f"""
    SELECT node, CAST(rank AS BIGINT) AS pagerank_fp
    FROM {prev} ORDER BY rank DESC, node LIMIT 20
    """
    return sql


def _pr_edges(cat):
    """Undirected customer-supplier edge list (both directions), the one
    graph of graph-pagerank, -personalized-pagerank,
    -degree-assortativity and -hits: one artifact over one truncated
    distinct-pair table, built once per (session, sf_dir)."""
    return cat.artifact(
        "pr_edges", lambda: _mirror(_purchases(cat).select(*_cs()).distinct())
    )


def _pr_deg(cat, edges):
    return cat.artifact(
        "pr_deg",
        lambda: edges.groupBy("src")
        .agg(F.count("*").alias("degree"))
        .withColumnRenamed("src", "node")
        .persist(),
    )


def _rank_hops(edges, deg, ranks, teleport):
    """``_ITER`` PageRank hops from ``ranks`` (node, degree, rank): a
    node's next rank is ``teleport + (85 * Σ(rank div degree)) div 100``
    over its in-edges, ``teleport`` being a Column over the node's
    ``deg`` row. Exact BIGINT arithmetic, so any reduction order gives
    the same ranks."""
    for _ in range(_ITER):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div degree")).alias("s"))
        )
        ranks = contrib.join(deg, contrib.dst == deg.node).select(
            "node",
            "degree",
            (teleport + F.expr(f"({_DAMP_NUM} * s) div {_DAMP_DEN}")).alias("rank"),
        )
    return ranks


@register("graph-pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank (3 iterations, damping 0.85) over the undirected
    customer–supplier purchase graph; top-20 nodes by rank. The analytics
    use: centrality over an interaction graph (which accounts/vendors
    anchor the network) — the reference models this domain as mart-layer
    SQL over BigQuery (dbtwiz/model/create.py marts layer); the engine
    runs the iteration natively.

    Fixed-point: ranks are BIGINT scaled by 1e15; each step is
    ``base + (85 * Σ(rank div degree)) div 100`` — exact integer ops,
    identical in any engine and any reduction order. Undirected edges
    mean no dangling mass (every node has out-degree ≥ 1) and the node
    set equals the degree-table keys on both sides.

    Scale: per iteration one equi-join (ranks joined to edges on src —
    both hash-partitioned on the join key, partitioning reused across
    iterations) and one partial-aggregated groupBy(dst). The edge and
    degree tables are built ONCE as catalog artifacts (edges as a
    mirrored union over a checkpointed pair table, degrees persisted —
    the rank lineage references edges every hop, and without the
    artifact each hop re-derives it from the base join: measured 13 s →
    ~2 s at sf0.1). The edge list never moves through the driver;
    production loops additionally checkpoint ranks every ~5 iterations
    to cut lineage — not needed at 3. The CONVERGED rank table is an
    artifact too, like the connected-components label table — repeat
    sweeps pay only the top-20 sort — and the
    materialization behind it is ``_truncate`` (NOT per-round:
    ranks feed ONE branch per hop, so the plan grows linearly and
    per-round truncation measured SLOWER, 2.27 s → 3.55 s at sf0.1;
    one truncation of the final table costs nothing and gives the
    artifact a flat lineage-free plan — and switches to reliable checkpoint()
    under spark.checkpoint.dir like every iterative op)."""
    cat = views(spark, sf_dir)
    edges = _pr_edges(cat)
    deg = _pr_deg(cat, edges)

    def _build_final_ranks():
        deg_n = deg.crossJoin(F.broadcast(deg.agg(F.count("*").alias("n"))))
        ranks = deg_n.select(
            "node", "degree", F.expr(f"CAST({_SCALE} AS BIGINT) div n").alias("rank")
        )
        teleport = F.expr(f"CAST({_SCALE * 15 // 100} AS BIGINT) div n")
        return _truncate(_rank_hops(edges, deg_n, ranks, teleport))

    final = cat.artifact("pr_ranks_final", _build_final_ranks)
    return (
        final.select("node", F.col("rank").alias("pagerank_fp"))
        .orderBy(F.desc("pagerank_fp"), "node")
        .limit(20)
    )




def _copurchase_cs(cat):
    """Distinct (customer, supplier) purchase pairs for the bounded
    (supplier key <= 100) co-purchase graph — shared by triangle count
    and neighbourhood Jaccard, persisted once per catalog."""
    return (
        _purchases(cat)
        .filter(F.col("l_suppkey") <= 100)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


@register(
    "graph-triangle-count",
    oracle="""
    WITH cs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_suppkey <= 100),
    p AS (
        SELECT a.s AS sa, b.s AS sb, COUNT(*) AS shared
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY 1, 2),
    thr AS (SELECT CAST(SUM(shared) AS DOUBLE) / COUNT(*) * 1.05 AS t FROM p),
    e AS (SELECT sa, sb FROM p, thr WHERE shared > thr.t),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e1.sa = e2.sa AND e1.sb < e2.sb
        JOIN e e3 ON e3.sa = e1.sb AND e3.sb = e2.sb)
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           tri.n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Triangle count over the supplier co-purchase graph (edges between
    suppliers whose shared-customer count exceeds 1.05x the mean) -- the
    clustering/cohesion metric behind community detection and fraud-ring
    screens. The edge threshold is data-relative so the graph stays
    meaningful at every SF; all joins are on exact integers and the
    threshold compare is one double division on identical operands.

    The counting join uses ID-ORIENTATION: every edge is stored once as
    (lo, hi), and a triangle a<b<c is found as wedge (a,b)x(a,c), b<c,
    closed by probing (b,c) -- each triangle counted exactly once, no
    all-pairs step. At 100 TB the same plan holds with DEGREE-orientation
    (orient each edge toward the higher-degree endpoint) so wedge fan-out
    is bounded by the lighter endpoint's degree -- the standard skew
    device this bounded demo graph (supplier key <= 100 at any SF)
    doesn't need."""
    cat = views(spark, sf_dir)
    cs = cat.artifact("cs100", lambda: _copurchase_cs(cat).persist())
    a = cs.select(F.col("c"), F.col("s").alias("sa"))
    b = cs.select(F.col("c"), F.col("s").alias("sb"))
    p = (
        a.join(b, "c")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("shared"))
    )
    thr = p.agg(
        (F.sum("shared").cast("double") / F.count("*") * 1.05).alias("t")
    )
    # the thresholded edge set feeds FOUR consumers (three wedge-join
    # aliases + the edge count): persist so the customer self-join that
    # produces it runs once
    e = cat.artifact(
        "tri_edges",
        lambda: p.crossJoin(F.broadcast(thr))
        .filter(F.col("shared") > F.col("t"))
        .select("sa", "sb")
        .persist(),
    )
    e1 = e.select(F.col("sa").alias("a"), F.col("sb").alias("b"))
    e2 = e.select(F.col("sa").alias("a"), F.col("sb").alias("c"))
    e3 = e.select(F.col("sa").alias("b"), F.col("sb").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    tri = wedges.join(e3, ["b", "c"]).agg(F.count("*").alias("n_triangles"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return F.broadcast(n_edges).crossJoin(tri)


@register(
    "graph-jaccard-neighbors",
    oracle="""
    WITH cs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_suppkey <= 100),
    deg AS (SELECT s, COUNT(*) AS d FROM cs GROUP BY 1),
    inter AS (
        SELECT a.s AS sa, b.s AS sb, COUNT(*) AS shared
        FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        GROUP BY 1, 2)
    SELECT i.sa, i.sb, i.shared,
           CAST(i.shared AS DOUBLE) / (da.d + db.d - i.shared) AS jaccard
    FROM inter i
    JOIN deg da ON i.sa = da.s
    JOIN deg db ON i.sb = db.s
    ORDER BY CAST(i.shared AS DOUBLE) / (da.d + db.d - i.shared) DESC,
             i.sa, i.sb
    LIMIT 25
    """,
)
def graph_jaccard_neighbors(spark, sf_dir):
    """Node similarity by neighbourhood Jaccard: supplier pairs ranked by
    |N(a) intersect N(b)| / |N(a) union N(b)| over shared customers -- the
    link-prediction / substitutable-vendor primitive. Intersections come
    from one equi-join on the customer key (a pair is only generated
    where it shares at least one neighbour -- the same candidate
    discipline as the LSH family, no all-pairs step); union sizes are
    inclusion-exclusion from broadcast degree counts. All-integer until
    one division of identical operands; ordering is on that exact double
    with a full (sa, sb) tie-break.

    Scale: bounded demo graph (supplier key <= 100); at real scale the
    hub-customer fan-out is capped the way ext-dedup-near caps hot
    shingles (drop or sample customers whose supplier list exceeds a
    bound -- they contribute near-zero Jaccard signal)."""
    cat = views(spark, sf_dir)
    cs = cat.artifact("cs100", lambda: _copurchase_cs(cat).persist())
    deg = cs.groupBy("s").agg(F.count("*").alias("d"))
    a = cs.select("c", F.col("s").alias("sa"))
    b = cs.select("c", F.col("s").alias("sb"))
    inter = (
        a.join(b, "c")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("shared"))
    )
    da = deg.select(F.col("s").alias("sa"), F.col("d").alias("da"))
    db = deg.select(F.col("s").alias("sb"), F.col("d").alias("db"))
    jac = F.col("shared").cast("double") / (
        F.col("da") + F.col("db") - F.col("shared")
    )
    return (
        inter.join(F.broadcast(da), "sa")
        .join(F.broadcast(db), "sb")
        .select("sa", "sb", "shared", jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), "sa", "sb")
        .limit(25)
    )


_BFS_HOPS = 3


def _bounded_edges(cat):
    """Weighted edges of the bounded subgraph, ``w`` = MIN line quantity
    of the pair: graph-minplus-distance's graph, and graph-bfs-hops'
    (one pair per (customer, supplier), so its edge set is the distinct
    pairs')."""
    return cat.artifact(
        "bounded_edges",
        lambda: _mirror(
            _purchases(cat)
            .filter(_BOUNDED)
            .groupBy(*_cs())
            .agg(F.min("l_quantity").cast("long").alias("w"))
        ),
    )


def _bfs_oracle() -> str:
    sql = """
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_suppkey <= 50 AND o.o_custkey <= 500),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
    d0 AS (SELECT 's1' AS node, 0 AS dist)
    """
    prev = "d0"
    for i in range(1, _BFS_HOPS + 1):
        sql += f""",
    d{i} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, r.dist + 1 AS dist
            FROM edges e JOIN {prev} r ON e.src = r.node) u
        GROUP BY 1)
        """
        prev = f"d{i}"
    sql += f"""
    SELECT dist, COUNT(*) AS n_nodes,
           MIN(node) AS min_node, MAX(node) AS max_node
    FROM {prev} GROUP BY dist ORDER BY dist
    """
    return sql


@register("graph-bfs-hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark, sf_dir):
    """Breadth-first reachability: shortest hop distance from a seed
    supplier to every node within 3 hops of the purchase graph -- the
    blast-radius / influence-sphere query (which accounts does this
    vendor touch within k steps). Per round, the frontier's neighbours
    join in and MIN(dist) keeps the first arrival -- min-label
    propagation, the ext-dedup-cluster device with distances instead of
    labels. All integers; the per-distance summary (count + min/max
    node) keeps the output bounded while pinning membership.

    Scale: each hop is one equi-join (edges hash-partitioned on src,
    reused every round) plus a partial-aggregated MIN -- identical
    mechanics to graph-pagerank but with a growing-then-stable frontier;
    the distance table is truncated every hop (``_min_propagate``). The
    edges are graph-minplus-distance's weighted artifact (its pair set is
    this graph's; the weights go unused), and the distance table is an
    artifact too, so repeat sweeps pay only the summary rollup."""
    cat = views(spark, sf_dir)
    dist = cat.artifact(
        "bfs_dist",
        lambda: _min_propagate(
            _bounded_edges(cat),
            spark.createDataFrame([("s1", 0)], "node STRING, dist INT"),
            F.col("dist") + 1,
            _BFS_HOPS,
        ),
    )
    return (
        dist.groupBy("dist")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("dist")
    )


_MINPLUS_HOPS = 3


def _minplus_oracle() -> str:
    sql = f"""
    WITH pairs AS (
        SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
               's' || CAST(l.l_suppkey AS VARCHAR) AS s,
               CAST(MIN(l.l_quantity) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_suppkey <= 50 AND o.o_custkey <= 500
        GROUP BY 1, 2),
    edges AS (
        SELECT c AS src, s AS dst, w FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst, w FROM pairs),
    d0 AS (SELECT 's1' AS node, CAST(0 AS BIGINT) AS dist)
    """
    prev = "d0"
    for i in range(1, _MINPLUS_HOPS + 1):
        sql += f""",
    d{i} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, r.dist + e.w AS dist
            FROM edges e JOIN {prev} r ON e.src = r.node) u
        GROUP BY 1)
        """
        prev = f"d{i}"
    sql += f"""
    SELECT node, dist FROM {prev}
    """
    return sql


@register("graph-minplus-distance", oracle=_minplus_oracle())
def graph_minplus_distance(spark, sf_dir):
    """Weighted shortest distances (min-plus / tropical semiring) from a
    seed supplier within 3 hops -- Bellman-Ford unrolled: where
    graph-bfs-hops relaxes over (min, +1) this relaxes over (min, +w),
    the third semiring in the iteration family after PageRank's (+, x)
    and BFS's (min, +1). Edge weight = MIN line quantity on the
    customer-supplier relation, exact BIGINT end-to-end, so the result
    is bit-identical under any partitioning or relaxation order.

    Scale: per round one equi-join against the weighted edge artifact
    (one mirrored union over a truncated pair table per catalog, shared
    with graph-bfs-hops) + one partial-aggregated MIN
    (``_min_propagate``); distances stay node-granular (bounded by the
    vertex set, not the corpus). The distance table is an artifact, so
    repeat sweeps return the flat scan directly."""
    cat = views(spark, sf_dir)
    return cat.artifact(
        "minplus_dist",
        lambda: _min_propagate(
            _bounded_edges(cat),
            spark.createDataFrame([("s1", 0)], "node STRING, dist LONG"),
            F.col("dist") + F.col("w"),
            _MINPLUS_HOPS,
        ),
    )


_CC_ROUNDS = 8


def _cc_oracle() -> str:
    sql = """
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_suppkey <= 50 AND o.o_custkey <= 500
          AND o.o_orderpriority = '1-URGENT' AND l.l_quantity <= 5),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)
    """
    # every round reads the previous one twice; MATERIALIZED stops DuckDB
    # from inlining the chain and re-running earlier rounds per reference
    # (57 s -> 0.1 s at sf0.001, the same for HITS and k-core below)
    prev = "l0"
    for i in range(1, _CC_ROUNDS + 1):
        sql += f""",
    l{i} AS MATERIALIZED (
        SELECT node, MIN(lbl) AS lbl FROM (
            SELECT node, lbl FROM {prev}
            UNION ALL
            SELECT e.dst AS node, r.lbl FROM edges e
            JOIN {prev} r ON e.src = r.node) u
        GROUP BY 1)
        """
        prev = f"l{i}"
    sql += f"""
    SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COUNT(*) FILTER (WHERE node % 2 = 0) AS BIGINT)
               AS n_customers,
           CAST(COUNT(*) FILTER (WHERE node % 2 = 1) AS BIGINT)
               AS n_suppliers
    FROM {prev} GROUP BY 1
    """
    return sql


@register("graph-connected-components", oracle=_cc_oracle())
def graph_connected_components(spark, sf_dir):
    """Connected components of a sparse purchase graph by hash-min label
    propagation -- the fourth semiring in the iteration family (PageRank
    (+, x), BFS (min, +1), min-plus (min, +w), components (min, id)):
    every node starts labelled with its own id and each round adopts the
    minimum label in its closed neighbourhood, so labels flood each
    component down to its smallest node id. The URGENT-priority,
    quantity<=5 edge filter keeps the graph genuinely disconnected (15
    components at sf0.01, 22 at sf0.1 -- asserted non-degenerate in
    tests); node ids are disjoint integers (customer 2k, supplier 2k+1)
    and everything is exact BIGINT, so the fixed unrolled round count is
    bit-identical across engines whether or not it has converged --
    convergence itself (one more round changes nothing) is pinned as a
    semantic test, not assumed.

    Scale: per round one equi-join against the mirrored edge artifact
    (hash-partitioned on src, reused every round) plus a
    partial-aggregated MIN keyed on node (``_min_propagate``, which
    truncates every round and stops at the fixpoint) -- the label table
    never exceeds the vertex set. The converged label table is itself
    memoized (session x scale artifact), so repeat sweeps pay only the
    final component rollup. Production CC alternates large-star/
    small-star to cut round count to O(log d); the unrolled min-label
    form is the oracle-checkable core with identical per-round
    mechanics."""
    cat = views(spark, sf_dir)
    edges = cat.artifact(
        "cc_edges",
        lambda: _mirror(
            _purchases(cat)
            .filter(
                f"{_BOUNDED} AND o_orderpriority = '1-URGENT' AND l_quantity <= 5"
            )
            .select(
                (F.col("o_custkey") * 2).alias("c"),
                (F.col("l_suppkey") * 2 + 1).alias("s"),
            )
            .distinct()
        ),
    )
    lbl = cat.artifact(
        "cc_labels",
        lambda: _min_propagate(
            edges,
            edges.selectExpr("src AS node", "src AS lbl").distinct(),
            F.col("lbl"),
            _CC_ROUNDS,
        ),
    )
    return lbl.groupBy(F.col("lbl").alias("component")).agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.when(F.col("node") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_customers"),
        F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_suppliers"),
    )


@register(
    "graph-degree-assortativity",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM edges GROUP BY 1),
    xy AS (
        SELECT CAST(ds.degree AS DECIMAL(19,0)) AS x,
               CAST(dd.degree AS DECIMAL(19,0)) AS y
        FROM edges e
        JOIN deg ds ON ds.node = e.src
        JOIN deg dd ON dd.node = e.dst),
    mo AS (
        SELECT CAST(COUNT(*) AS DECIMAL(19,0)) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
        FROM xy)
    SELECT CAST(n AS BIGINT) AS n_edges,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS assortativity
    FROM mo
    """,
)
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the purchase graph: the Pearson
    correlation of (deg(src), deg(dst)) over the directed edge list --
    Newman's mixing coefficient, THE one-number summary of whether hubs
    attach to hubs (positive) or to leaves (negative; bipartite
    commerce graphs are typically disassortative). Shares the SAME
    memoized edge/degree artifacts as graph-pagerank (edges a mirror of
    the one truncated pair table, degrees persisted), and the
    numerics are the agg-spearman-corr device verbatim:
    degrees are exact BIGINTs, all five moments accumulate in
    DECIMAL(38,0) (int64 products would overflow past ~2e9 edges), and
    the only doubles are the final scale-0 casts and the sqrt
    composition, rounded to 6 dp; degenerate variance guarded NULL on
    both engines (ANSI rule 5).

    Scale: one degree aggregation + two hash joins of the edge list
    against the broadcast-or-bucketed degree table, then a single
    partial-aggregated moment reduce -- no window, no pair explosion
    beyond the edge list itself."""
    cat = views(spark, sf_dir)
    edges = _pr_edges(cat)
    deg = _pr_deg(cat, edges)
    ds = deg.select(F.col("node").alias("sn"), F.col("degree").alias("xd"))
    dd = deg.select(F.col("node").alias("dn"), F.col("degree").alias("yd"))
    xy = (
        edges.join(ds, edges.src == ds.sn)
        .join(dd, edges.dst == dd.dn)
        .select(
            F.col("xd").cast("decimal(19,0)").alias("x"),
            F.col("yd").cast("decimal(19,0)").alias("y"),
        )
    )
    mo = xy.agg(
        F.count("*").cast("decimal(19,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return mo.select(
        F.col("n").cast("bigint").alias("n_edges"),
        F.when(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
        ).alias("assortativity"),
    )


_KCORE_K = 13
_KCORE_ROUNDS = 4
_KCORE_MIN_ORDERS = 2


def _kcore_oracle() -> str:
    sql = f"""
    WITH pairs AS (
        SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
               's' || CAST(l.l_suppkey AS VARCHAR) AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT o.o_orderkey) >= {_KCORE_MIN_ORDERS}),
    e0 AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs)
    """
    prev = "e0"
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
    d{i} AS MATERIALIZED (SELECT src AS node, COUNT(*) AS dg FROM {prev} GROUP BY 1),
    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE dg >= {_KCORE_K}),
    e{i} AS MATERIALIZED (
        SELECT e.src, e.dst FROM {prev} e
        JOIN k{i} a ON e.src = a.node
        JOIN k{i} b ON e.dst = b.node),
    r{i} AS (
        SELECT CAST({i} AS BIGINT) AS round,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM k{i}
                WHERE node LIKE 'c%') AS n_customers,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM k{i}
                WHERE node LIKE 's%') AS n_suppliers,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i}) AS n_edges)
        """
        rounds.append(f"SELECT * FROM r{i}")
        prev = f"e{i}"
    return sql + "\n" + "\nUNION ALL\n".join(rounds)


@register("graph-k-core", oracle=_kcore_oracle())
def graph_k_core(spark, sf_dir):
    """k-core decomposition by iterative peeling (k = 13, 4 rounds):
    each round drops every node whose degree fell below k and the edges
    touching it, reporting the per-round survivor counts by side and the
    remaining directed edge count -- the standard graph-densification /
    spam-filtering primitive (the dense core is where engagement lives).
    The graph is the REPEAT-purchase customer-supplier graph (an edge
    needs >= 2 distinct orders between the pair): the raw bipartite
    graph's supplier side is so dense that any k peels exactly once and
    stops, while thresholded degrees straddle k on both sides and the
    peel genuinely cascades (204 -> 185 -> 141 -> 80 survivors at
    sf0.01). FIXED round count, not converge-detect: both engines
    execute the identical 4 peels, so the output is deterministic
    whether or not the peel has stabilized, and the per-round trajectory
    itself is the result (a converged or emptied graph just repeats its
    counts -- zeros at scales whose thresholded degrees sit below k are
    valid output, not failure). All counts are exact integers -- no
    float surface at all.

    Scale: each round is one degree aggregation plus two equi-joins of
    the edge list against the shrinking survivor set -- the same
    shuffle shape as graph-pagerank's hop, over its own mirrored edge
    artifact (built once per catalog). Every round's survivor edges are
    a truncated artifact, so the plan stays flat at any round count.
    The survivor join is a broadcast when the core shrinks below the
    threshold -- AQE decides per round."""
    cat = views(spark, sf_dir)
    edges = cat.artifact(
        "kcore_edges",
        lambda: _mirror(
            _purchases(cat)
            .groupBy(*_cs())
            .agg(F.countDistinct("o_orderkey").alias("no"))
            .filter(F.col("no") >= _KCORE_MIN_ORDERS)
            .select("c", "s")
        ),
    )
    per_round = []
    # Per-round frames are (re)constructed on EVERY invocation (the
    # edge artifacts are memoized, the count frames are not) — round 17
    # builds them from parsed SQL strings instead of Column chains
    # (the parallel_rank precedent, ~half the py4j round trips per
    # build); expressions and plans are identical.
    for i in range(1, _KCORE_ROUNDS + 1):
        deg = edges.groupBy("src").agg(F.expr("count(*) AS dg"))
        keep = deg.where(f"dg >= {_KCORE_K}").selectExpr("src AS node")

        def _peel(e=edges, k=keep):
            return (
                e.join(k.withColumnRenamed("node", "src"), "src")
                .join(k.select(F.col("node").alias("dst")), "dst")
                .select("src", "dst")
            )

        # memoize each round's survivor edge set: the per-round count
        # frames are all consumed in one union, and without this each
        # round's rows re-derive every PRIOR round's degree-agg + joins
        # (O(rounds^2) duplicate shuffles); the memo also serves repeat
        # sweeps. _truncate (not persist): each round's edges feed BOTH
        # the next round's degree agg and its own count row, and
        # InMemoryRelation embeds every prior round's subtree in the
        # plan — truncation measured 2.3-4.9 s → 1.2-1.4 s at sf0.1
        # (and switches to reliable checkpoint() under
        # spark.checkpoint.dir). Bind loop state via defaults — a
        # bare closure would capture the final round's variables.
        edges = cat.artifact(f"kcore_e{i}", lambda p=_peel: _truncate(p()))
        nodes_row = keep.selectExpr(
            "sum(CAST(startswith(node, 'c') AS BIGINT)) AS n_customers",
            "sum(CAST(startswith(node, 's') AS BIGINT)) AS n_suppliers",
        )
        edges_row = edges.selectExpr("count(*) AS n_edges")
        per_round.append(
            nodes_row.crossJoin(edges_row).selectExpr(
                f"CAST({i} AS BIGINT) AS round",
                "coalesce(n_customers, CAST(0 AS BIGINT)) AS n_customers",
                "coalesce(n_suppliers, CAST(0 AS BIGINT)) AS n_suppliers",
                "n_edges",
            )
        )
    out = per_round[0]
    for df in per_round[1:]:
        out = out.unionAll(df)
    return out


_PPR_SEEDS = ("s1", "s2", "s3", "s4", "s5")


def _ppr_oracle() -> str:
    seeds = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    seed_init = _SCALE // len(_PPR_SEEDS)
    seed_base = (_SCALE * 15 // 100) // len(_PPR_SEEDS)
    base = f"CASE WHEN e.dst IN ({seeds}) THEN {seed_base} ELSE 0 END"
    sql = f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs),
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY 1),
    r0 AS (
        SELECT node, degree,
               CASE WHEN node IN ({seeds})
                    THEN CAST({seed_init} AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS rank
        FROM deg)
    """
    prev = "r0"
    for i in range(1, _ITER + 1):
        sql += f""",
    r{i} AS (
        SELECT e.dst AS node, d.degree,
               {base} + ({_DAMP_NUM} * SUM(r.rank // r.degree))
                   // {_DAMP_DEN} AS rank
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN deg d ON e.dst = d.node
        GROUP BY e.dst, d.degree)
        """
        prev = f"r{i}"
    sql += f"""
    SELECT node, CAST(rank AS BIGINT) AS ppr_fp
    FROM {prev} ORDER BY rank DESC, node LIMIT 20
    """
    return sql


@register("graph-personalized-pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (3 iterations, damping 0.85, restart mass
    pinned to a 5-supplier seed set): proximity TO THE SEEDS rather than
    global centrality -- the recommendation / related-entities primitive
    (rank customers and suppliers by relevance to this vendor group).
    Same integer fixed-point device as graph-pagerank (BIGINT x 1e15
    ranks, ``seed_base + (85 * sum(rank div degree)) div 100`` -- exact
    in any engine and reduction order); the ONLY differences are the
    initial vector (all mass split over the seeds) and the teleport term
    (seeds only) -- non-seed nodes keep whatever flows to them, so mass
    concentrates in the seeds' neighbourhood, and distant nodes decay
    toward zero instead of sharing a uniform floor.

    Scale: the same hop as graph-pagerank (``_rank_hops``) over the
    SAME memoized edge/degree artifacts (edges a mirror of the one
    truncated pair table, degrees persisted); the seed test is a
    broadcast-literal IN over 5 keys. A 1000-seed production restart
    vector would join a broadcast seed table instead of inlining
    literals."""
    cat = views(spark, sf_dir)
    edges = _pr_edges(cat)
    deg = _pr_deg(cat, edges)
    seeds = list(_PPR_SEEDS)

    def seeded(mass):
        return (
            F.when(F.col("node").isin(seeds), F.lit(mass // len(seeds)))
            .otherwise(F.lit(0))
            .cast("long")
        )

    ranks = deg.select("node", "degree", seeded(_SCALE).alias("rank"))
    ranks = _rank_hops(edges, deg, ranks, seeded(_SCALE * 15 // 100))
    return (
        ranks.select("node", F.col("rank").alias("ppr_fp"))
        .orderBy(F.desc("ppr_fp"), "node")
        .limit(20)
    )


_HSCALE = 1_000_000_000  # 10^9 fixed point: keeps EVERY HITS value in BIGINT


def _hits_oracle() -> str:
    sql = f"""
    WITH pairs AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    h0 AS (SELECT DISTINCT c AS node, CAST({_HSCALE} AS BIGINT) AS h
           FROM pairs)
    """
    prev = "h0"
    for i in range(1, _ITER + 1):
        sql += f""",
    ar{i} AS MATERIALIZED (
        SELECT p.s AS node, CAST(SUM(h.h) AS BIGINT) AS a
        FROM pairs p JOIN {prev} h ON h.node = p.c
        GROUP BY 1),
    an{i} AS MATERIALIZED (
        SELECT node,
               a // ((SELECT SUM(a) FROM ar{i}) // {_HSCALE}) AS a
        FROM ar{i}),
    hr{i} AS MATERIALIZED (
        SELECT p.c AS node, CAST(SUM(a.a) AS BIGINT) AS h
        FROM pairs p JOIN an{i} a ON a.node = p.s
        GROUP BY 1),
    h{i} AS MATERIALIZED (
        SELECT node,
               h // ((SELECT SUM(h) FROM hr{i}) // {_HSCALE}) AS h
        FROM hr{i})
        """
        prev = f"h{i}"
    return f"""{sql}
    SELECT 'hub' AS side, node, CAST(h AS BIGINT) AS score_fp FROM (
        SELECT node, h FROM h{_ITER} ORDER BY h DESC, node LIMIT 10)
    UNION ALL
    SELECT 'authority', node, CAST(a AS BIGINT) FROM (
        SELECT node, a FROM an{_ITER} ORDER BY a DESC, node LIMIT 10)
    """


@register("graph-hits", oracle=_hits_oracle())
def graph_hits(spark, sf_dir):
    """HITS hubs-and-authorities (3 iterations) over the directed
    customer->supplier purchase graph: customers score as HUBS (they
    point at good suppliers), suppliers as AUTHORITIES (pointed at by
    good customers) -- the mutually-recursive centrality pair that
    PageRank's single score can't express, and the fourth fixed-point
    iteration in the graph family (after (+,x), (min,+1), (min,+)).
    Determinism: ALL arithmetic is BIGINT on positive values -- the l1
    normalization is the TWO-STEP integer divide score // (total //
    1e9), never a decimal division (DECIMAL // rounds its last digit
    differently across engines: measured off-by-one at 1e15 scale
    before this formulation; BIGINT floor-div on positives is identical
    everywhere). The 1e9 fixed point bounds every intermediate:
    unnormalized mass <= pairs x 1e9 (~2.4e15 at sf0.1, int64-safe to
    ~10^9 pairs -- wider graphs shard the normalizer, noted
    deliberately). Top-10 per side with a node tiebreak.

    Scale: each half-step is ONE equi-join of graph-pagerank's mirrored
    edge artifact against the current score vector plus a
    partial-aggregated groupBy(dst) -- the pagerank hop shape. Hub
    scores are keyed by customers and authority scores by suppliers, so
    joining on ``src`` picks the customer->supplier edges for the
    authority step and the reverse edges for the hub step. The
    normalizer is a broadcast 1-row aggregate."""
    cat = views(spark, sf_dir)
    edges = _pr_edges(cat)
    # Plan construction from parsed SQL strings (round 17, the
    # parallel_rank precedent): these frames are rebuilt on every
    # invocation while the half-step artifacts are memoized, so the
    # Column-chain py4j round trips were pure per-call driver overhead.
    # Expressions and plans are identical.
    h = edges.selectExpr("src AS node").where("startswith(node, 'c')").distinct()
    h = h.selectExpr("node", f"CAST({_HSCALE} AS BIGINT) AS h")
    a_norm = None
    for i in range(1, _ITER + 1):
        # memoize each half-step's raw scores AND truncate their lineage
        # (localCheckpoint): the normalizer consumes ar/hr TWICE
        # (directly and through the 1-row total), so the logical plan
        # doubles every half-step (~4^iters copies for the analyzer to
        # chew). Persist alone does NOT stop that — cache substitution
        # happens after analysis, and InMemoryRelation embeds the full
        # build subtree, so the driver still spent ~16 s/run PLANNING a
        # 163 MB physical plan at sf0.1; truncation cut the warm run to
        # ~1 s. _truncate switches to reliable checkpoint() when
        # spark.checkpoint.dir is set — the cluster-grade form of
        # the same plan-growth bound.
        ar = cat.artifact(
            f"hits_ar{i}",
            lambda hh=h: _truncate(
                edges.join(hh, edges.src == hh.node)
                .groupBy(F.col("dst").alias("anode"))
                .agg(F.sum("h").alias("a"))
            ),
        )
        asum = ar.selectExpr("sum(a) AS t")
        a_norm = ar.crossJoin(F.broadcast(asum)).selectExpr(
            "anode AS node", f"a div (t div {_HSCALE}) AS a"
        )
        hr = cat.artifact(
            f"hits_hr{i}",
            lambda an=a_norm: _truncate(
                edges.join(an, edges.src == an.node)
                .groupBy(F.col("dst").alias("hnode"))
                .agg(F.sum("a").alias("hh"))
            ),
        )
        hsum = hr.selectExpr("sum(hh) AS t")
        h = hr.crossJoin(F.broadcast(hsum)).selectExpr(
            "hnode AS node", f"hh div (t div {_HSCALE}) AS h"
        )
    hubs = (
        h.orderBy(F.desc("h"), "node")
        .limit(10)
        .selectExpr("'hub' AS side", "node", "h AS score_fp")
    )
    auths = (
        a_norm.orderBy(F.desc("a"), "node")
        .limit(10)
        .selectExpr("'authority' AS side", "node", "a AS score_fp")
    )
    return hubs.unionAll(auths)
