"""Graph analytics over relational data: the part↔supplier bipartite
graph implied by lineitem, processed with the iterate-as-dataframe
pattern (each round = join + aggregate), the same shape
``dedup.dedup_cluster_keep`` uses for connected components.

PageRank here is EXACT-INTEGER: ranks live in 1e-12 "rank units"
(int64) and every contribution is an integer floor-divide, so a fixed
iteration count is bit-reproducible on any engine — which makes an
iterative algorithm fully value-oracled (the oracle unrolls the same
three iterations as plain CTEs). Classic float PageRank can only ever
be rows-only checked; this is the portable formulation.

Scale: each iteration shuffles (node, contribution) pairs — the
standard PageRank join+agg; degree rides along pre-joined. 100 TB
graphs add nothing structurally new, only more partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64, hash64_sql
from ..sources.tables import bcast_gated, load_table

PR_ITERS = 3
PR_UNIT = 1_000_000_000_000          # 1.0 in rank units
PR_BASE = 150_000_000_000            # (1 - 0.85) * PR_UNIT


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part↔supplier edges, both directions, distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration damped PageRank (d = 0.85) in exact int64 rank
    units over the part↔supplier graph. Every node starts at 1.0
    (= 1e12 units); per iteration each node contributes
    floor(rank·85 / (100·outdegree)) along every out-edge and
    collects 0.15 + damped inflow. Undirected construction ⇒ no
    dangling mass."""
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    ed = edges.join(deg, "src").localCheckpoint(eager=False)
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(PR_UNIT).cast("long").alias("r")
    )
    for _ in range(PR_ITERS):
        ranks = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("(r * 85) DIV (100 * d)").alias("contrib"))
            .groupBy(F.col("dst").alias("node"))
            .agg((F.lit(PR_BASE) + F.sum("contrib")).alias("r"))
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_units"),
        (F.col("r").cast("double") / F.lit(float(PR_UNIT))).alias("rank"),
    )


_EDGES_SQL = """
e0 AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1)
"""

_PR_ITER_SQL = """
{out} AS (
  SELECT e.dst AS node,
         CAST({base} + SUM((r.r * 85) // (100 * d.d)) AS BIGINT) AS r
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY 1
)"""

GRAPH_PAGERANK_SQL = (
    "WITH "
    + _EDGES_SQL.strip()
    + ",\nr0 AS (SELECT src AS node, CAST({u} AS BIGINT) AS r FROM deg)".format(
        u=PR_UNIT
    )
    + ","
    + ",".join(
        _PR_ITER_SQL.format(out=f"it{i + 1}", prev=f"it{i}" if i else "r0",
                            base=PR_BASE)
        for i in range(PR_ITERS)
    )
    + f"""
SELECT node, r AS rank_units, CAST(r AS DOUBLE) / {float(PR_UNIT)} AS rank
FROM it{PR_ITERS}
"""
)


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part↔supplier graph split by node
    kind — the first diagnostic run on any large graph (hub detection,
    skew planning for the joins above). Two hash-aggs."""
    deg = _edges(spark, sf_dir).groupBy("src").agg(F.count("*").alias("d"))
    return (
        deg.select(F.substring("src", 1, 1).alias("kind"), "d")
        .groupBy("kind", "d")
        .agg(F.count("*").alias("n_nodes"))
    )


GRAPH_DEGREE_SQL = f"""
WITH {_EDGES_SQL.strip()}
SELECT substr(src, 1, 1) AS kind, d, COUNT(*) AS n_nodes
FROM deg GROUP BY 1, 2
"""


# ------------------------------------------------ connected components --

# The component graph is customer<->part "bought at top quantity":
# both sides are keyspace-large, so the qty>=49 thinning genuinely
# fragments it (24 components at sf0.001, 240 at sf0.01) — unlike the
# part<->supplier graph, whose hub suppliers keep it one component at
# every threshold (measured).
CC_MIN_QTY = 49
#: BFS hop horizon, shared by the Spark frontier loop and the oracle's
#: recursive walk (both emit dist <= BFS_MAX_HOPS - 1) — one constant
#: so the truncation boundary can never diverge between engines.
BFS_MAX_HOPS = 64


#: Node-id validity bound for the ``2k`` / ``2k+1`` bipartite encode
#: (round-13 INTADV find): the encode is injective only while
#: ``|key| <= 2^61`` — beyond that ``key * 2`` ANSI-overflows int64 in
#: BOTH engines (Spark ARITHMETIC_OVERFLOW, DuckDB Out of Range), i.e.
#: one hostile row kills the whole graph job, the events/relational
#: kill class in the GRAPH tier. 2^61 ≈ 2.3e18 keeps every realistic
#: id — snowflake-style ids are ~2^60 (epoch-ms << 22) — with 2×
#: headroom, and the encoded image tops out at 2^62+1, inside int64.
#: An edge endpoint that is NULL or beyond the bound is not an
#: identifiable node: the EDGE is dropped at mint, identically in
#: both engines (the SQL twin is the BETWEEN in each e0 CTE — NULL
#: fails BETWEEN, so the NULL-FK clause rides the same predicate).
GRAPH_NODE_ABS_MAX = 2**61


def _valid_node(c: str) -> Column:
    return F.col(c).between(-GRAPH_NODE_ABS_MAX, GRAPH_NODE_ABS_MAX)


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edges of the qty-thinned customer<->part purchase
    graph with integer node ids (customer c -> 2c, part p -> 2p+1),
    both directions. Endpoints outside the encode's validity domain
    (``GRAPH_NODE_ABS_MAX``) drop the edge at mint."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.filter(F.col("l_quantity") >= CC_MIN_QTY)
        .select(F.col("l_orderkey").alias("o_orderkey"), "l_partkey")
        .join(od, "o_orderkey")
        .filter(_valid_node("o_custkey") & _valid_node("l_partkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact connected components via min-label propagation run to
    fixpoint, then a per-component profile (size, part/supplier mix).

    Each iteration is one join + one min-aggregate (the hash-join /
    hash-agg form of label propagation); convergence is detected by an
    exact changed-row count, so the loop runs diameter-many rounds and
    the result is engine-independent — which lets an inherently
    iterative algorithm be fully value-oracled (the oracle reaches the
    same fixpoint through a recursive CTE that propagates labels
    downhill: a label travels to a neighbor only while it is smaller,
    and the component min reaches every member).

    Scale: the classic dataframe-CC shape (Kiveris et al.'s large-star
    is the constant-factor upgrade at extreme diameters; the join+agg
    per round and the shuffle-by-node-id partitioning are identical).
    Per-iteration ``localCheckpoint`` truncates the growing lineage —
    without it round k replays rounds 1..k-1. The convergence check
    collects one scalar per round.
    """
    edges = _cc_edges(spark, sf_dir).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    # size-gate the per-round label joins exactly like graph_kcore's
    # peel joins: while the node set fits the broadcast cap the
    # propagation join and the left-join merge go map-side (edges
    # stream from the checkpoint, no shuffle for the joins — this is
    # what keeps ~diameter sequential rounds cheap under the driver's
    # vanilla 200-partition session); past the cap they fall back to
    # shuffle joins, the 100 TB-safe default. Node count is constant
    # across rounds, so one count decides the whole loop.
    bcast = labels.count() <= KCORE_BCAST_CAP
    # NOTE (round-13 optimization pass): graph_kcore's two-peels-per-
    # materialization trick was tried here and REVERTED on measurement
    # (warmed A/B at sf0.1: 15.6 → 19.8 s unchecked-mid, 16.7 s with a
    # mid checkpoint). Unlike the peel (two broadcast lookups on a
    # static edge list), a propagation round is join+agg+join REAL
    # work consumed twice inside a fused pair — CC's rounds are
    # work-bound, not driver-latency-bound, so per-round
    # materialization stays.
    while True:
        lab_b = F.broadcast(labels) if bcast else labels
        nbr_min = (
            edges.join(lab_b, edges.dst == lab_b.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new = (
            labels.join(
                F.broadcast(nbr_min) if bcast else nbr_min, "node", "left"
            )
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                (F.coalesce("nbr_lbl", "lbl") < F.col("lbl")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.filter("chg").count()
        labels = new.drop("chg")
        if changed == 0:
            break
    return labels.groupBy(F.col("lbl").alias("component")).agg(
        F.count("*").alias("n_nodes"),
        # (node & 1), not (node % 2): Java/DuckDB % keep the dividend's
        # sign, so a NEGATIVE odd node decodes to -1 and corrupts the
        # part census; & is two's-complement in both engines (round-13
        # INTADV)
        F.sum(F.when(F.expr("(node & 1) = 0"), 1).otherwise(0)).alias(
            "n_customers"
        ),
        F.sum(F.expr("node & 1")).alias("n_parts"),
        F.max("node").alias("max_node"),
    )


GRAPH_CC_SQL = f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_partkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= {CC_MIN_QTY}
    -- encode-domain gate (GRAPH_NODE_ABS_MAX): NULL fails BETWEEN,
    -- so the NULL-FK drop rides the same predicate
    AND o.o_custkey BETWEEN -2305843009213693952 AND 2305843009213693952
    AND l.l_partkey BETWEEN -2305843009213693952 AND 2305843009213693952
),
cedges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
reach(node, lbl) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM cedges) n
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN cedges e ON e.src = r.node
  WHERE r.lbl < e.dst
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY 1)
SELECT component, COUNT(*) AS n_nodes,
       -- & 1 decode, negative-safe in both engines (round-13 INTADV)
       CAST(SUM(CASE WHEN (node & 1) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers,
       CAST(SUM(node & 1) AS BIGINT) AS n_parts,
       MAX(node) AS max_node
FROM comp GROUP BY 1
"""


# --------------------------------------------------- triangle counting --


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges: parts appearing in the
    same order, stored once as (a < b).

    One lineitem scan + one groupBy-on-orderkey, then the per-order
    pair combinations are generated map-side from the sorted distinct
    part list (JVM codegen — no self-join, no second scan). Safe to
    buffer: the collected list is one ORDER's parts (single-digit
    rows in TPC-H at any sf), not a graph neighborhood — bounded by
    order semantics, so this never hits the collect_list-hub OOM the
    census shapes must avoid. Cross-order duplicate
    edges fall to the same ``distinct`` the self-join form used."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        per_order.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ps",
                        lambda x, i: F.transform(
                            F.slice("ps", i + F.lit(2), F.size("ps")),
                            lambda y: F.struct(x.alias("u"), y.alias("v")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph (parts
    bought together in one order) — one global row: nodes, edges,
    wedges, triangles, and the global clustering coefficient in exact
    ppm (3·tri·1e6 DIV wedges).

    Degree-ordered orientation (Suri–Vassilvitskii MR-triangles):
    every edge points from its lower-(degree, id) endpoint to the
    higher one, so each triangle is counted exactly once and — the
    scale property — every join fans out by ORIENTED out-degree,
    which is O(sqrt(|E|))-bounded per node regardless of how skewed
    the raw degree distribution is. A hub with a million neighbors
    contributes only its few out-edges to the path join. Two shuffle
    joins + one aggregate; wedges come from the undirected degree
    table (sum d·(d-1)/2), integer end-to-end.
    """
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    # orientation: degree-major, id-minor — compared LEXICOGRAPHICALLY,
    # never as a packed d·2^32 + u int: node ids are not bounded by
    # 2^32 at scale, and a packed-key collision between two distinct
    # nodes would silently drop their edge from BOTH orientations
    # (undercounting every triangle through it)
    ori = (
        und.join(
            deg.select(F.col("u").alias("u"), F.col("d").alias("d_u")), "u"
        )
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("d_v")), "v")
        .filter(
            (F.col("d_u") < F.col("d_v"))
            | ((F.col("d_u") == F.col("d_v")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    # paths u->v, u->w (v != w) closed by oriented edge v->w or w->v:
    # with a total order each triangle appears exactly once as the
    # (lowest-ok apex, its two out-neighbors) wedge
    p1 = ori.alias("p1")
    p2 = ori.alias("p2")
    paths = p1.join(p2, F.col("p1.u") == F.col("p2.u")).filter(
        F.col("p1.v") < F.col("p2.v")
    ).select(F.col("p1.v").alias("x"), F.col("p2.v").alias("y"))
    closing = ori.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    tri = paths.join(closing, ["x", "y"]).agg(
        F.count("*").alias("n_triangles")
    )
    stats = (
        # integer DIV, never float /2: sum(d) is always even here, but
        # the float quotient detours through DOUBLE and rounds past
        # 2^53 — the round-13 INTADV find was the oracle's twin of this
        # path flipping clustering_ppm by one ulp-rounded unit
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.expr("sum(d) DIV 2").alias("n_edges"),
            F.expr("sum(d * (d - 1)) DIV 2").alias("n_wedges"),
        )
    )
    # crossJoin of two 1-row aggregates (broadcast scalar pattern)
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr("3 * n_triangles * 1000000 DIV n_wedges").alias("clustering_ppm"),
    )


GRAPH_TRIANGLE_SQL = """
WITH ce AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
und AS (SELECT u, v FROM ce UNION ALL SELECT v AS u, u AS v FROM ce),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
ori AS (
  -- lexicographic (degree, id) orientation: same collision-free
  -- comparison as the Spark side (no packed d*2^32 + u key)
  SELECT e.u, e.v FROM und e
  JOIN deg a ON a.u = e.u JOIN deg b ON b.u = e.v
  WHERE a.d < b.d OR (a.d = b.d AND e.u < e.v)
),
tri AS (
  SELECT COUNT(*) AS t FROM (
    SELECT p1.v AS x, p2.v AS y
    FROM ori p1 JOIN ori p2 ON p1.u = p2.u AND p1.v < p2.v
  ) w
  JOIN (SELECT LEAST(u, v) AS x, GREATEST(u, v) AS y FROM ori) c
    USING (x, y)
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       -- '//' keeps the HUGEINT sum integer-exact; '/ 2' detours
       -- through DOUBLE and floor-divides a ROUNDED quotient — the
       -- round-13 INTADV off-by-one in clustering_ppm
       CAST((SELECT SUM(d) FROM deg) // 2 AS BIGINT) AS n_edges,
       CAST((SELECT SUM(d * (d - 1)) FROM deg) // 2 AS BIGINT) AS n_wedges,
       CAST(t AS BIGINT) AS n_triangles,
       CAST(3 * t * 1000000 // (SELECT SUM(d * (d - 1)) // 2 FROM deg) AS BIGINT)
         AS clustering_ppm
FROM tri
"""


# ------------------------------------------------------ BFS distances --


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the thinned customer<->part graph: hop
    distance from the seed set (every component's minimum node — the
    CC representatives) to every reachable node, as a distance
    histogram per hop. Frontier-as-dataframe iteration: each round
    joins the frontier to edges and anti-joins already-visited nodes;
    terminates when the frontier empties (diameter-many rounds, same
    loop discipline as ``graph_connected_components``).

    The oracle reaches the same distances through a recursive CTE that
    propagates (node, dist) pairs and keeps MIN(dist) — BFS layering
    as monotone fixpoint, engine-independent because hop counts are
    integers (no weights, no FP).

    Scale: per round one hash join frontier⋈edges + one anti join vs
    the visited set — the Pregel superstep shape; visited is the only
    growing state and is exactly the final output size. At 100 TB the
    anti join is the cost center and is why production BFS keeps
    visited bucketed by node id (stated here, same plan).
    """
    edges = _cc_edges(spark, sf_dir).localCheckpoint(eager=False)
    # seeds = per-component min node == the CC labels themselves
    comp = graph_connected_components(spark, sf_dir)
    seeds = comp.select(F.col("component").alias("node"))
    visited = seeds.select(
        "node", F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=False)
    frontier = visited
    # same size gating as graph_kcore / graph_connected_components:
    # frontier and visited are bounded by the node count, so while
    # that fits the broadcast cap every round's expand join and
    # visited anti-join go map-side — the per-round job latency is
    # what a ~diameter-round loop pays ~diameter times
    bcast = (
        edges.select("src").distinct().count() <= KCORE_BCAST_CAP
    )
    d = 0
    while True:
        d += 1
        if d >= BFS_MAX_HOPS:
            # the oracle's recursive walk stops at dist BFS_MAX_HOPS-1
            # (WHERE dist + 1 < cap) — the Spark loop must truncate at
            # the SAME horizon, or a component with diameter >= cap
            # makes the engines disagree with no truncation marker
            break
        fr = frontier.select(F.col("node").alias("src"))
        vis = visited.select("node")
        nxt = (
            edges.join(F.broadcast(fr) if bcast else fr, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(vis) if bcast else vis, "node", "left_anti")
            .select("node", F.lit(d).cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited.groupBy("dist").agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


GRAPH_BFS_SQL = f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_partkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= {CC_MIN_QTY}
    -- encode-domain gate (GRAPH_NODE_ABS_MAX): NULL fails BETWEEN,
    -- so the NULL-FK drop rides the same predicate
    AND o.o_custkey BETWEEN -2305843009213693952 AND 2305843009213693952
    AND l.l_partkey BETWEEN -2305843009213693952 AND 2305843009213693952
),
cedges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
reach(node, lbl) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM cedges) n
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN cedges e ON e.src = r.node
  WHERE r.lbl < e.dst
),
seeds AS (SELECT MIN(lbl) AS node FROM reach GROUP BY node),
walk(node, dist) AS (
  SELECT DISTINCT node, CAST(0 AS BIGINT) FROM seeds
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN cedges e ON e.src = w.node
  WHERE w.dist + 1 < {BFS_MAX_HOPS}
),
best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY 1)
SELECT dist, COUNT(*) AS n_nodes, MIN(node) AS min_node,
       MAX(node) AS max_node
FROM best GROUP BY 1
"""


# ----------------------------------------------- neighborhood overlap --

JACCARD_TOPK = 100


def _jaccard_census(edges: DataFrame, sf_dir: str) -> DataFrame:
    """Top-``JACCARD_TOPK`` Jaccard census of an UNDIRECTED edge
    table (both directions present, no duplicates): wedge-join on the
    shared endpoint for common-neighbor counts, per-node degrees
    broadcast onto the pair table, exact integer-ppm scores, ties on
    (u, v). Requires a SYMMETRIC input — (u,v) present iff (v,u) is —
    so that every common neighbor of a pair is also counted in both
    endpoint degrees, which bounds n_common ≤ min(deg_a, deg_b) and
    keeps the union divisor strictly positive."""
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("deg")
    )
    e1 = edges.select(F.col("u").alias("w"), F.col("v").alias("a"))
    e2 = edges.select(F.col("u").alias("w"), F.col("v").alias("b"))
    inter = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    # |nodes|-sized degree table (fact-derived): forced broadcast only
    # under the source-byte gate (tables.BCAST_SRC_CAP_BYTES)
    scored = (
        inter.join(
            bcast_gated(deg.select(F.col("node").alias("a"),
                                   F.col("deg").alias("deg_a")),
                        sf_dir, "lineitem"), "a")
        .join(
            bcast_gated(deg.select(F.col("node").alias("b"),
                                   F.col("deg").alias("deg_b")),
                        sf_dir, "lineitem"), "b")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            .alias("n_union"),
            F.expr(
                "(n_common * 1000000)"
                " DIV (deg_a + deg_b - n_common)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_ppm"), F.asc("u"), F.asc("v")
    ).limit(JACCARD_TOPK)


def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood overlap: for every part pair
    sharing at least one co-purchase neighbor, the Jaccard similarity
    of their neighbor sets in exact ppm — |N(u)∩N(v)|·1e6 DIV
    |N(u)∪N(v)| — keeping the top-100 most-similar pairs.

    Wedge-join shape: common-neighbor counts come from joining the
    (both-directions) edge list with itself on the shared endpoint —
    one shuffle on the wedge center — then per-node degrees broadcast
    onto the pair table (|pairs| ≪ wedges after the groupBy). Integer
    DIV end-to-end; ties break on (u, v), so top-k is deterministic.

    Scale: wedge count is Σ deg(w)², the known hot spot — the 100 TB
    run caps contributions per center (same quarantine idea as
    ``dedup_minhash_lsh``'s LSH_BUCKET_CAP) or minhashes the neighbor
    sets; at fixture scale the exact census is the point.
    """
    und = _copurchase_edges(spark, sf_dir)
    # census reads its input three times (degrees + both wedge sides)
    edges = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    return _jaccard_census(edges, sf_dir)


GRAPH_JACCARD_SQL = f"""
WITH und AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
deg AS (SELECT u AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
inter AS (
  SELECT e1.v AS a, e2.v AS b, COUNT(*) AS n_common
  FROM edges e1 JOIN edges e2 ON e1.u = e2.u
  WHERE e1.v < e2.v GROUP BY 1, 2
)
SELECT i.a AS u, i.b AS v, CAST(i.n_common AS BIGINT) AS n_common,
       CAST(da.deg + db.deg - i.n_common AS BIGINT) AS n_union,
       CAST((i.n_common * 1000000) // (da.deg + db.deg - i.n_common)
            AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN deg da ON da.node = i.a
JOIN deg db ON db.node = i.b
ORDER BY jaccard_ppm DESC, u ASC, v ASC
LIMIT {JACCARD_TOPK}
"""


# ------------------------------------ degree-capped Jaccard overlap --

#: Max neighbors kept per node. Wedge work is then bounded by
#: |centers| * CAP^2 instead of the unbounded sum of deg^2 (the exact
#: census enumerates 298M wedges at sf0.1; a 100 TB hub would be a
#: single-task death sentence). 256 sits ABOVE every fixture degree
#: (max 222 at sf0.1), so at test scale the capped graph IS the full
#: graph (asserted in tests) and the cap only bites where it must:
#: on the hubs a 100x corpus would grow.
JACCARD_DEG_CAP = 256


def cap_neighbors(edges: DataFrame, cap: int = JACCARD_DEG_CAP) -> DataFrame:
    """Keep at most ``cap`` neighbors per source node ``u`` of a
    DIRECTED edge table (columns ``u``, ``v``), selected by the
    portable 64-bit hash of the edge then ``v`` — a deterministic
    fixed-size neighbor sample both engines reproduce bit-for-bit.
    Factored out of :func:`graph_jaccard_capped` so the cap-binding
    path is unit-testable on a synthetic hub (fixture degrees all sit
    under the default cap, so the census itself never exercises it)."""
    sel = Window.partitionBy("u").orderBy(
        hash64(F.concat_ws(":", F.col("u"), F.col("v"))), F.col("v")
    )
    return (
        edges.withColumn("r", F.row_number().over(sel))
        .filter(F.col("r") <= cap)
        .drop("r")
    )


def graph_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood overlap on the DEGREE-CAPPED
    co-purchase graph — the scale-safe form of
    :func:`graph_jaccard_neighbors` (VERDICT r6 item 4; oracle-ready
    in the library, registered in the round-8 front): every node
    keeps at most ``JACCARD_DEG_CAP`` neighbors, chosen by a
    deterministic portable hash of the edge (an unbiased fixed-size
    neighbor sample both engines reproduce bit-for-bit), the sampled
    graph is re-SYMMETRIZED (an edge survives only if BOTH endpoints
    kept it), and the Jaccard census runs EXACTLY on that graph.

    The symmetrize step is what keeps the score well-defined once the
    cap binds: ``cap_neighbors`` samples each direction independently
    (hash64("u:v") ≠ hash64("v:u")), so without it a low-degree
    common neighbor w could keep both a and b while neither a nor b
    kept w — wedge counts through such w's would not be bounded by
    the endpoint degrees, letting n_common exceed deg_a + deg_b and
    the union divisor reach zero or go negative. On the
    both-directions intersection the census input is a proper
    undirected graph again, so n_common ≤ min(deg_a, deg_b) and
    n_union ≥ max(deg_a, deg_b) ≥ 1 hold by construction
    (``tests/test_graph.py`` asserts them in the binding regime).

    Wedge work is bounded by |centers|·CAP² by construction — the
    quarantine idea of ``dedup_minhash_lsh`` applied as a uniform
    per-node sample instead of a bucket drop. Degrees are capped-graph
    degrees, so the score is the exact Jaccard of the sampled
    neighborhoods (a consistent estimator of the true Jaccard for hub
    nodes, exact for nodes under the cap — at fixture scale every
    degree sits under the cap, the symmetrize keeps everything, and
    the output equals the exact census row-for-row).
    """
    und = _copurchase_edges(spark, sf_dir)
    edges = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    capped = cap_neighbors(edges).localCheckpoint(eager=False)
    # the census reads its input three times (degrees + both wedge
    # sides) — checkpoint the symmetrized table too, or the
    # capped⋈reversed join re-executes per consumer
    sym = capped.join(
        capped.select(F.col("v").alias("u"), F.col("u").alias("v")),
        ["u", "v"],
    ).localCheckpoint(eager=False)
    return _jaccard_census(sym, sf_dir)


_EDGE_HASH_SQL = hash64_sql(
    "CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)"
)

GRAPH_JACCARD_CAPPED_SQL = f"""
WITH und AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
capped AS (
  SELECT u, v FROM (
    SELECT u, v,
           row_number() OVER (PARTITION BY u
                              ORDER BY {_EDGE_HASH_SQL}, v) AS r
    FROM edges
  ) WHERE r <= {JACCARD_DEG_CAP}
),
sym AS (
  SELECT c1.u, c1.v FROM capped c1
  JOIN capped c2 ON c1.u = c2.v AND c1.v = c2.u
),
deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
inter AS (
  SELECT e1.v AS a, e2.v AS b, COUNT(*) AS n_common
  FROM sym e1 JOIN sym e2 ON e1.u = e2.u
  WHERE e1.v < e2.v GROUP BY 1, 2
)
SELECT i.a AS u, i.b AS v, CAST(i.n_common AS BIGINT) AS n_common,
       CAST(da.deg + db.deg - i.n_common AS BIGINT) AS n_union,
       CAST((i.n_common * 1000000) // (da.deg + db.deg - i.n_common)
            AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN deg da ON da.node = i.a
JOIN deg db ON db.node = i.b
ORDER BY jaccard_ppm DESC, u ASC, v ASC
LIMIT {JACCARD_TOPK}
"""


# ----------------------------------------------------------- k-core --

KCORE_K = 3
KCORE_ROUNDS = 10
# Broadcast the surviving-node set into the peel joins while it has at
# most this many ids (~40 MB of longs — comfortably under executor
# memory); larger cores fall back to shuffle joins.
KCORE_BCAST_CAP = 5_000_000
# Own qty threshold: at CC_MIN_QTY=49 the 3-core is EMPTY at every test
# sf (measured); 45 yields a dense-enough graph that peeling does real
# work (sf0.01: 2576 nodes -> 2298 survivors) while staying qty-thinned.
KCORE_MIN_QTY = 45


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=KCORE_K=3) of the qty-thinned
    customer↔part purchase graph by iterative peeling: drop nodes of
    degree < k, recompute degrees in the induced subgraph, repeat —
    the standard dense-region extractor (spam/bot rings, core
    communities).

    Runs EXACTLY ``KCORE_ROUNDS`` peels rather than testing
    convergence: extra rounds past the fixpoint remove nothing, so
    the bounded loop is deterministic and equals the true k-core once
    converged — which is what makes an inherently iterative algorithm
    value-oracle-able (the DuckDB oracle unrolls the same 10 rounds as
    MATERIALIZED CTEs; plain CTEs re-expand the doubly-referenced
    chain exponentially — the ``emb_pca_power`` lesson).

    Scale: each peel is one self-join + hash-agg shuffled on node id;
    ``localCheckpoint`` truncates lineage per round as
    ``graph_connected_components`` does. Output is the per-degree
    census of the surviving core, not per-node rows.

    The surviving-node set is counted every round anyway (early-exit
    test), so the endpoint joins are size-gated: while the set fits
    the broadcast cap the peel joins go map-side (edges stream from
    the checkpoint, no shuffle for the joins — A/B at sf0.1: 4.4 →
    4.1 s, identical output); past the cap they fall back to shuffle
    joins, which is the 100 TB-safe default for a core that stays
    large.

    Round-14 A/Bs, both measured and NOT shipped (VERDICT r13 item 6):
    (a) triple-step (3 peels per checkpoint) — cold interleave LOST
    (4.73/5.68/5.45 s pair vs 5.83/5.61/6.28 s triple): the mid-chain
    recompute outweighs one saved driver round-trip, so the pair is
    the local optimum of that axis. (b) incremental peeling (maintain
    per-node degree, subtract only edges into the just-removed set
    via a gated broadcast of removed AND of the Δ table; final census
    read off the maintained degrees — oracle-verified 0/328 at sf0.01
    and sf0.1) — warmed interleave FLAT (3.70/4.16 s peel vs
    4.37/3.68 s incremental), cold flat under noise (means 9.1 vs
    8.5 s at loadavg 2.5-6.5): the Δ-aggregate saves shuffled bytes
    but adds a per-round build+probe, and at fixture scale both are
    overhead-bound. Kept the simpler full-peel; at a 100 TB graph the
    incremental form's Δ-proportional shuffle is the right shape to
    revisit IF the peel's per-round |E'| aggregate ever dominates.
    """
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.filter(F.col("l_quantity") >= KCORE_MIN_QTY)
        .select(F.col("l_orderkey").alias("o_orderkey"), "l_partkey")
        .join(od, "o_orderkey")
        # encode-domain gate, see GRAPH_NODE_ABS_MAX
        .filter(_valid_node("o_custkey") & _valid_node("l_partkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    nodes = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") >= KCORE_K)
        .select("node")
        .localCheckpoint(eager=False)
    )
    prev_n = nodes.count()

    def _peel(cur: DataFrame, bcast: bool) -> DataFrame:
        nsel = F.broadcast(cur) if bcast else cur
        sub = edges.join(
            nsel.select(F.col("node").alias("src")), "src"
        ).join(nsel.select(F.col("node").alias("dst")), "dst")
        return (
            sub.groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("node")
        )

    # TWO peels per materialization (round-13 optimization): the peel
    # count is unchanged (exactly KCORE_ROUNDS total, the oracle's
    # unroll), but checkpoint/count actions halve — measured at sf0.1
    # the loop never converges inside 10 rounds, so every round's
    # driver round-trip was pure latency. Early exit stays exact: node
    # sets only shrink, so an unchanged count across a PAIR of peels
    # is a fixpoint and every later peel is a no-op. The broadcast
    # gate uses the pre-pair count — the mid-pair set is no larger.
    rounds_done = 1
    while rounds_done < KCORE_ROUNDS:
        step = min(2, KCORE_ROUNDS - rounds_done)
        cur = nodes
        for _ in range(step):
            cur = _peel(cur, prev_n <= KCORE_BCAST_CAP)
        nodes = cur.localCheckpoint(eager=False)
        rounds_done += step
        cur_n = nodes.count()
        if cur_n == prev_n:
            break
        prev_n = cur_n
    nsel = F.broadcast(nodes) if prev_n <= KCORE_BCAST_CAP else nodes
    final = edges.join(
        nsel.select(F.col("node").alias("src")), "src"
    ).join(nsel.select(F.col("node").alias("dst")), "dst")
    degs = final.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    return degs.groupBy("deg").agg(
        F.count("*").alias("n_nodes"),
        # & 1 decode, negative-safe in both engines (round-13 INTADV)
        F.sum(F.when(F.expr("(node & 1) = 0"), 1).otherwise(0))
        .alias("n_customers"),
        F.sum(F.expr("node & 1")).alias("n_parts"),
        F.min("node").alias("min_node"),
    )


def _kcore_round_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
  SELECT e.src AS node, COUNT(*) AS deg
  FROM cedges e
  JOIN {prev} a ON e.src = a.node
  JOIN {prev} b ON e.dst = b.node
  GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}
)"""


_KCORE_CHAIN = ",\n".join(
    _kcore_round_sql(f"n{i}", f"n{i + 1}")
    for i in range(1, KCORE_ROUNDS)
)


GRAPH_KCORE_SQL = f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_partkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= {KCORE_MIN_QTY}
    -- encode-domain gate (GRAPH_NODE_ABS_MAX): NULL fails BETWEEN,
    -- so the NULL-FK drop rides the same predicate
    AND o.o_custkey BETWEEN -2305843009213693952 AND 2305843009213693952
    AND l.l_partkey BETWEEN -2305843009213693952 AND 2305843009213693952
),
cedges AS MATERIALIZED (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
),
n1 AS MATERIALIZED (
  SELECT src AS node, COUNT(*) AS deg FROM cedges
  GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}
),
{_KCORE_CHAIN},
final AS (
  SELECT e.src AS node, COUNT(*) AS deg
  FROM cedges e
  JOIN n{KCORE_ROUNDS} a ON e.src = a.node
  JOIN n{KCORE_ROUNDS} b ON e.dst = b.node
  GROUP BY 1
)
SELECT CAST(deg AS BIGINT) AS deg, COUNT(*) AS n_nodes,
       -- & 1 decode, negative-safe in both engines (round-13 INTADV)
       CAST(SUM(CASE WHEN (node & 1) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers,
       CAST(SUM(node & 1) AS BIGINT) AS n_parts,
       MIN(node) AS min_node
FROM final GROUP BY 1
"""


# ----------------------------------------- degree assortativity --

#: moment arithmetic width. DECIMAL(38,0), not 18: the raw int64
#: moments silently wrap around ~1e7 heavy-degree edges (DuckDB's SUM
#: widens to HUGEINT automatically, so the engines would diverge), and
#: decimal(18) cannot even hold the int64 range it was casting from.
#: 38 digits ≈ int128 — the same loud-failure boundary as the oracle's
#: HUGEINT (num²·1e6 overflows both at |num| ≈ 1.2e16).
_AD38 = "decimal(38,0)"


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all directed edges — the
    one-number summary of whether hubs link to hubs (assortative,
    social-network-like) or to leaves (disassortative, hub-and-spoke
    retail). Emits the exact integer moment sums plus sign and r² in
    ppm — the ``ts_autocorr_lag`` integer-Pearson recipe applied to
    graph structure (num² in DECIMAL(38)/HUGEINT, sign split, DIV).

    Scale: degrees are one hash-agg; the moment fold joins the
    |nodes|-row degree table onto the edge list twice (broadcast at
    fixture scale, shuffle-on-node beyond) and reduces to ONE row.
    """
    # the undirected edge mint (lineitem self-join + DISTINCT) feeds
    # the symmetrized union twice, which deg and the moment join then
    # each re-expand — six self-join executions without this single
    # materialization (round-13 rescan-audit rule)
    und = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    edges = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("deg")
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dy"))
    m = (
        edges.join(bcast_gated(du, sf_dir, "lineitem"), "u")
        .join(bcast_gated(dv, sf_dir, "lineitem"), "v")
        .agg(
            F.count("*").alias("n_edges"),
            F.sum(F.col("dx").cast(_AD38)).alias("sx"),
            F.sum(F.col("dy").cast(_AD38)).alias("sy"),
            F.sum((F.col("dx") * F.col("dx")).cast(_AD38)).alias("sxx"),
            F.sum((F.col("dy") * F.col("dy")).cast(_AD38)).alias("syy"),
            F.sum((F.col("dx") * F.col("dy")).cast(_AD38)).alias("sxy"),
        )
    )
    ne = F.col("n_edges").cast(_AD38)
    stats = m.select(
        "n_edges",
        (ne * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (ne * F.col("sxx") - F.col("sx") * F.col("sx")).alias("denx"),
        (ne * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    )
    # explicit CASE rather than signum: on an empty graph num is NULL
    # and the oracle's CASE lands in ELSE 0, while signum(NULL) is
    # NULL — same integers everywhere else (empty-corpus sweep, r7)
    return stats.select(
        "n_edges",
        F.when(F.col("num") > 0, 1)
        .when(F.col("num") < 0, -1)
        .otherwise(0)
        .cast("long")
        .alias("r_sign"),
        F.when(
            (F.col("denx") > 0) & (F.col("deny") > 0),
            F.expr(
                "CAST((num * num * 1000000) div (denx * deny) AS BIGINT)"
            ),
        ).alias("r2_ppm"),
    )


GRAPH_ASSORT_SQL = """
WITH und AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
deg AS (SELECT u AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
m AS (
  SELECT COUNT(*) AS n_edges,
         SUM(du.deg) AS sx, SUM(dv.deg) AS sy,
         SUM(du.deg * du.deg) AS sxx, SUM(dv.deg * dv.deg) AS syy,
         SUM(du.deg * dv.deg) AS sxy
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
stats AS (
  SELECT n_edges,
         n_edges * sxy - sx * sy AS num,
         n_edges * sxx - sx * sx AS denx,
         n_edges * syy - sy * sy AS deny
  FROM m
)
SELECT CAST(n_edges AS BIGINT) AS n_edges,
       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
            AS BIGINT) AS r_sign,
       CASE WHEN denx > 0 AND deny > 0 THEN
         CAST((CAST(num AS HUGEINT) * CAST(num AS HUGEINT) * 1000000)
              // (CAST(denx AS HUGEINT) * CAST(deny AS HUGEINT)) AS BIGINT)
       END AS r2_ppm
FROM stats
"""


# ------------------------------------------------ recommendations --

REC_MIN_CO = 2
REC_TOPK = 3


def rec_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering, the co-purchase form: score
    every (customer, candidate part) by the summed co-purchase counts
    between the candidate and the parts the customer already bought,
    drop owned items, keep each customer's top-3 — the classic
    "customers who bought X also bought" recommender as one
    DataFrame DAG.

    Shape: the (part, part, co-count ≥ 2) affinity table is the
    model; scoring is history ⋈ affinity grouped per (customer,
    candidate); the owned-item removal is a left-anti join; top-k
    is a per-customer window. At 100 TB the affinity table is the
    thing you bound (min-co-count + per-item top-M neighbors — the
    standard item-item truncation); scoring stays a hash join keyed
    on part.

    EXACT: integer co-counts; ties break on the part key.
    """
    # per-order DISTINCT parts first: a part split over two lineitems
    # of one order is one purchase, not two co-purchase events
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # three consumers (history join + both affinity self-join
        # sides) — one scan+DISTINCT instead of three (round-13
        # rescan-audit rule).
        # SCALE NOTE (VERDICT r13 item 5): (orderkey, partkey) DISTINCT
        # is near-fact-sized. MEMORY_AND_DISK blocks spill rather than
        # OOM, but at a true 100 TB fact this materialization should
        # become a partitioned staging write (or the three consumers
        # must re-scan); the single-materialization-vs-3-scans trade
        # flips only when executor storage cannot hold ~1/6 of the
        # fact. As at every localCheckpoint site, the lineage is
        # truncated: an executor loss retries the whole query instead
        # of recomputing one partition.
        .localCheckpoint(eager=False)
    )
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    hist = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        # two consumers (scoring join + owned-item anti-join) — the
        # join+DISTINCT chain materializes once (round-13 rescan rule).
        # SCALE NOTE: (custkey, partkey) DISTINCT — customer-behavior-
        # sized (<= fact rows, typically ~1/5 of them); same storage
        # policy as `li` above.
        .localCheckpoint(eager=False)
    )
    a = li.alias("a")
    b = li.alias("b")
    und = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= REC_MIN_CO)
    )
    aff = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"), "co")
    )
    scores = (
        hist.join(aff, hist.l_partkey == aff.u)
        .groupBy("o_custkey", "v")
        .agg(F.sum("co").alias("score"))
    )
    unowned = scores.join(
        hist.select(
            F.col("o_custkey").alias("o_custkey"),
            F.col("l_partkey").alias("v"),
        ),
        ["o_custkey", "v"],
        "left_anti",
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("score"), F.asc("v"))
    return (
        unowned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= REC_TOPK)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("v").alias("rec_partkey"),
            "score",
            "rk",
        )
    )


REC_COPURCHASE_SQL = f"""
WITH hist AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS co
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {REC_MIN_CO}
),
aff AS (SELECT u, v, co FROM und UNION ALL SELECT v, u, co FROM und),
scores AS (
  SELECT h.o_custkey, a.v, SUM(a.co) AS score
  FROM hist h JOIN aff a ON a.u = h.l_partkey
  GROUP BY 1, 2
),
unowned AS (
  SELECT s.* FROM scores s
  WHERE NOT EXISTS (
    SELECT 1 FROM hist h WHERE h.o_custkey = s.o_custkey
      AND h.l_partkey = s.v
  )
)
SELECT o_custkey AS custkey, v AS rec_partkey,
       CAST(score AS BIGINT) AS score, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY score DESC, v) AS rk
  FROM unowned
) t WHERE rk <= {REC_TOPK}
"""


def rec_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender evaluation panel over ``rec_copurchase_topk``'s
    output: catalog coverage (share of the part catalog that appears
    in ANY top-3 list, in ppm), aggregate diversity (distinct
    recommended parts), and personalization — the expected number of
    SHARED items between two random users' lists, computed exactly
    via the inverted index identity Σ_p C(u_p, 2) / C(U, 2) in
    micro-units (never enumerating user pairs). The
    everyone-gets-the-same-bestsellers failure mode shows up here as
    coverage ↓ and overlap ↑ long before any A/B test.

    One pass over the rec table + a part-count broadcast; the pair
    identity turns a U²-pair statistic into a |parts|-row aggregate.
    """
    recs = rec_copurchase_topk(spark, sf_dir).localCheckpoint(eager=False)
    n_parts = load_table(spark, sf_dir, "part").select(
        F.count_distinct("p_partkey").alias("catalog")
    )
    users = recs.agg(F.count_distinct("custkey").alias("n_users"))
    per_part = recs.groupBy("rec_partkey").agg(
        F.count("*").alias("u_p")
    )
    agg = per_part.agg(
        F.count("*").alias("n_rec_parts"),
        F.sum(
            F.expr("(u_p * (u_p - 1)) DIV 2")
        ).alias("shared_pairs"),
    )
    # one declarative DAG: the three single-row aggregates broadcast-
    # cross; no driver-side action bakes a literal into the plan
    return (
        agg.crossJoin(F.broadcast(n_parts))
        .crossJoin(F.broadcast(users))
        .select(
            "n_users",
            "n_rec_parts",
            "catalog",
            # empty part table / < 2 users: DuckDB // yields NULL on a
            # zero divisor, Spark ANSI DIV throws — guard to the
            # oracle's NULL (empty-corpus sweep, round 7)
            F.expr(
                "CASE WHEN catalog > 0"
                " THEN (n_rec_parts * 1000000) DIV catalog END"
            ).alias("coverage_ppm"),
            "shared_pairs",
            F.expr(
                "CASE WHEN n_users >= 2 THEN (shared_pairs * 1000000)"
                " DIV (n_users * (n_users - 1) DIV 2) END"
            ).alias("mean_overlap_micro"),
        )
    )


def _rec_eval_sql() -> str:
    return f"""
WITH recs AS ({REC_COPURCHASE_SQL.strip()}),
users AS (SELECT COUNT(DISTINCT custkey) AS n_users FROM recs),
per_part AS (
  SELECT rec_partkey, COUNT(*) AS u_p FROM recs GROUP BY 1
),
agg AS (
  SELECT COUNT(*) AS n_rec_parts,
         SUM((u_p * (u_p - 1)) // 2) AS shared_pairs
  FROM per_part
),
catalog AS (SELECT COUNT(DISTINCT p_partkey) AS catalog FROM part)
SELECT CAST(u.n_users AS BIGINT) AS n_users,
       CAST(a.n_rec_parts AS BIGINT) AS n_rec_parts,
       CAST(c.catalog AS BIGINT) AS catalog,
       CAST((a.n_rec_parts * 1000000) // c.catalog AS BIGINT)
         AS coverage_ppm,
       CAST(a.shared_pairs AS BIGINT) AS shared_pairs,
       CAST((a.shared_pairs * 1000000)
            // (CAST(u.n_users AS BIGINT) * (u.n_users - 1) // 2)
            AS BIGINT) AS mean_overlap_micro
FROM agg a CROSS JOIN users u CROSS JOIN catalog c
"""


REC_EVAL_SQL = _rec_eval_sql()


def rec_popularity_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The baseline every recommender must beat: each customer gets
    the globally best-selling parts (by distinct buyers) they don't
    already own, top-3 — zero personalization by construction, so
    ``rec_eval_metrics``'s overlap statistic reads near its maximum
    here and the gap to ``rec_copurchase_topk`` is the measured value
    of personalization.

    The bestseller table is |parts| rows (broadcast); the per-user
    pass is one anti-join against history and a rank filter — no
    pairwise anything.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    hist = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        # three consumers (popularity count, customer list, owned
        # anti-join): the join+DISTINCT chain materializes once
        # (round-13 rescan rule)
        .localCheckpoint(eager=False)
    )
    pop = hist.groupBy("l_partkey").agg(
        F.count("*").alias("n_buyers")
    )
    # a 50-deep bestseller shelf suffices; the global top-50 comes
    # from a distributed TakeOrdered (orderBy+limit), and only the 50
    # survivors flow through the rank window — never |parts| rows
    # through one partition (the ordering is total, so prank is
    # identical to ranking the full table)
    shelf_order = [F.desc("n_buyers"), F.asc("l_partkey")]
    pop_rank = (
        pop.orderBy(*shelf_order)
        .limit(50)
        .withColumn(
            "prank", F.row_number().over(Window.orderBy(*shelf_order))
        )
    )
    cand = hist.select("o_custkey").distinct().crossJoin(
        F.broadcast(pop_rank)
    )
    unowned = cand.join(hist, ["o_custkey", "l_partkey"], "left_anti")
    w = Window.partitionBy("o_custkey").orderBy("prank")
    return (
        unowned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= REC_TOPK)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("rec_partkey"),
            "n_buyers",
            "rk",
        )
    )


REC_POPULARITY_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
hist AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM li l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
pop AS (SELECT l_partkey, COUNT(*) AS n_buyers FROM hist GROUP BY 1),
pop_rank AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_buyers DESC, l_partkey) AS prank
  FROM pop QUALIFY prank <= 50
),
cand AS (
  SELECT u.o_custkey, p.l_partkey, p.n_buyers, p.prank
  FROM (SELECT DISTINCT o_custkey FROM hist) u CROSS JOIN pop_rank p
),
unowned AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (
    SELECT 1 FROM hist h
    WHERE h.o_custkey = c.o_custkey AND h.l_partkey = c.l_partkey
  )
)
SELECT o_custkey AS custkey, l_partkey AS rec_partkey,
       CAST(n_buyers AS BIGINT) AS n_buyers, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY prank) AS rk
  FROM unowned
) t WHERE rk <= {REC_TOPK}
"""
