"""Graph analytics over the order graph (SURVEY.md §2.2, round 4).

The customer↔supplier bipartite graph — an edge wherever a customer
bought from a supplier (lineitem ⋈ orders, distinct pairs) — is the
natural graph hiding in the star schema. dedup.py already runs
connected components (large-star/small-star contraction); this module
adds the importance/shape queries a user would run next:

- q_pagerank: damped PageRank, fixed PR_ITERATIONS rounds:
  contribution = pr/out_deg flows along each edge. A graph of at
  most DRIVER_GRAPH_MAX_EDGES edges comes back as one Arrow table
  (session.fetch_or_hold: fetched lazily when the lineitem footer
  bounds it within the cap, else probed off the persisted edge frame)
  and iterates on the driver in numpy — a few thousand edges do not
  pay for a Spark job per round (McSherry et al., "Scalability! But
  at what COST?", HotOS 2015). A larger one runs the classic
  join-agg loop: one shuffle join (edges ⋈ ranks on src) + one
  keyed aggregation per round, edges pre-partitioned on the join
  key and reused every round; the linear-lineage loop runs as one
  job and only the final node-sized result is checkpointed (see the
  in-function notes for the measured variants). At 1000 executors
  this is the standard Pregel-equivalent formulation: both sides
  hash-partition on the join key, no driver state.
- q_graph_degree_distribution: degree histogram — the 30-second
  sanity check before trusting any iterative graph result.

Cross-engine determinism: ranks are fround'ed to 10 dp after EVERY
iteration in both engines, so distributed float-sum reordering
cannot compound across rounds (abs error per round ~1e-15 against a
1e-10 grid — boundary flips are ~1e-7 probability, not a practical
concern; without the per-round rounding drift compounds ×0.85/round
against the oracle's sequential sums).

Node encoding: customers at c_custkey·2, suppliers at l_suppkey·2+1
(integer namespacing beats string prefixes — joins stay on BIGINT).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark import session
from distributed_mapreduce_server_spark.catalog import load_tables, table_row_count
from distributed_mapreduce_server_spark.functions import fround, fround_np
from distributed_mapreduce_server_spark.session import (
    GRAPH_EDGE_ROWS_PER_TASK,
    checkpoint_loop,
    release_checkpoints,
    scoped_conf,
    sized_shuffle_partitions,
)

# Iterative-loop label/keep frames broadcast only below this node
# count (~16 bytes/row of two BIGINTs -> ~64 MB at the cap, matching
# the session's autoBroadcastJoinThreshold). Above it the per-round
# joins fall back to the shuffle plan — at 100 TB |V| outgrows any
# broadcast; locally every test SF sits far below the cap.
LOOP_BROADCAST_MAX_NODES = 4_000_000

PR_ITERATIONS = 5
PR_DAMPING = 0.85
PR_BASE = 0.15


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric directed edge list (src, dst) of the purchase graph."""
    t = load_tables(spark, sf_dir, register_views=False)
    pairs = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionAll(pairs.select(F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (unnormalized per-node base form):
    pr_{i+1}(v) = 0.15 + 0.85 · Σ_{(u,v)∈E} pr_i(u)/out_deg(u),
    pr_0 ≡ 1.0, PR_ITERATIONS rounds.

    The symmetric edge set means every node has in-edges, so the
    aggregation re-covers all nodes each round (no dangling-mass
    term needed). A graph of at most session.DRIVER_GRAPH_MAX_EDGES
    edges is fetched once and iterated on the driver
    (:func:`_pagerank_on_driver`); a larger one runs the distributed
    round loop below over the persisted edge frame
    (:func:`_edges_with_outdeg` decides which)."""
    edges, edeg = _edges_with_outdeg(spark, sf_dir)
    if edges is not None:
        return _labeled(_pagerank_on_driver(spark, edges)).orderBy("node_id")
    # Distributed rounds over the persisted, src-partitioned,
    # out-degree-annotated edges: the persisted frame's hash
    # partitioning satisfies the per-round join's distribution
    # requirement, so only the (node-sized) rank frame shuffles each
    # round — without it, the (much larger) edge frame re-shuffles
    # every iteration. This is the bucketed-join trick applied to an
    # iterative loop.
    #
    # Unlike star contraction (geometric lineage -> needs
    # localCheckpoint cuts), this chain is LINEAR in the round count:
    # round i references only round i-1 plus the persisted edge frame,
    # so for a fixed small iteration budget the whole loop executes as
    # ONE job with no per-round materialization. Four loop variants
    # measured warm at sf0.1: {checkpoint, none} x {shuffle,
    # broadcast-rank} land within 6.6-6.9 s except no-checkpoint +
    # broadcast (7.9 s: each round's broadcast re-materializes the
    # unsaved rank chain — quadratic recompute). A variable-round
    # PageRank-to-convergence would need per-round cuts: that is
    # session.checkpoint_loop's until mode.
    # initial ranks derive FROM THE CACHE (edeg), not from the raw
    # edge lineage — otherwise round 1 silently re-runs the whole
    # edge build for the rank side.
    pr = edeg.select(F.col("src").alias("node")).distinct().withColumn("pr", F.lit(1.0))
    for _ in range(PR_ITERATIONS):
        pr = _pr_round(edeg, pr)
    # materialize the (node-sized) result THROUGH the cache before
    # releasing it: the returned frame is lazy, and unpersisting
    # first would make the caller's execution re-derive the edge
    # build twice per round (the bug the first bench run measured —
    # plan inspection showed 61 Exchanges and 20 file scans).
    pr = pr.localCheckpoint(eager=True)
    edeg.unpersist()
    return _labeled(pr).orderBy("node_id")


def _labeled(pr: DataFrame) -> DataFrame:
    """(node_id, node_type, pr) rows of a (node, pr) rank frame."""
    return pr.select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        "pr",
    )


def _edges_with_outdeg(
    spark: SparkSession, sf_dir: str
) -> tuple[pa.Table | None, DataFrame | None]:
    """The purchase graph for both PageRank variants, as exactly one
    of ``(edges, edeg)``. A small graph comes back as its ``(src,
    dst)`` Arrow table through session.fetch_or_hold: a line item
    joins at most one order (o_orderkey is its key) and so gives at
    most two directed edges, and when 2·|lineitem| (a footer count,
    no job) is within DRIVER_GRAPH_MAX_EDGES the lazy edge frame is
    fetched in one query. Otherwise the edge frame is persisted and
    probed; past the cap the persisted frame (already materialized by
    the probe, so the degree count and the join below do not rebuild
    lineitem ⋈ orders) feeds the persisted,
    src-partitioned, out-degree-annotated edge frame the distributed
    rounds loop over (see q_pagerank's notes on why the
    pre-partitioned persist makes each round shuffle only the
    node-sized rank frame); the caller unpersists it."""
    small, edges = session.fetch_or_hold(
        _bipartite_edges(spark, sf_dir),
        session.DRIVER_GRAPH_MAX_EDGES,
        2 * table_row_count(sf_dir, "lineitem"),
        DataFrame.persist,
        DataFrame.unpersist,
    )
    if small is not None:
        return small, None
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    edeg = edges.join(deg, "src").repartition(F.col("src")).persist()
    edeg.count()
    edges.unpersist()
    return None, edeg


def _pagerank_on_driver(
    spark: SparkSession, edges: pa.Table, personalized: bool = False
) -> DataFrame:
    """The (node, pr) frame of PR_ITERATIONS damped rounds over a
    fetched ``(src, dst)`` edge table, in numpy: out-degrees by
    ``bincount``, each round ``bincount(dst, pr[src] / deg[src])`` on
    the same fround(·, 10) grid as :func:`_pr_round`, so the rows
    match the distributed loop's. ``personalized`` teleports to the
    minimum customer node and starts all rank there, as
    q_personalized_pagerank does. The ranks go back as an Arrow table
    (no Python workers)."""
    nodes, s = np.unique(edges["src"].to_numpy(), return_inverse=True)
    d = np.searchsorted(nodes, edges["dst"].to_numpy())
    deg = np.bincount(s, minlength=len(nodes))
    if personalized:
        # the seed: the minimum customer node (none on an empty graph)
        at_seed = np.isin(nodes, nodes[nodes % 2 == 0][:1])
        pr, base = at_seed.astype(float), np.where(at_seed, PR_BASE, 0.0)
    else:
        pr, base = np.ones(len(nodes)), PR_BASE
    for _ in range(PR_ITERATIONS):
        flow = np.bincount(d, weights=pr[s] / deg[s], minlength=len(nodes))
        pr = fround_np(base + PR_DAMPING * flow, 10)
    return spark.createDataFrame(
        pa.table({"node": pa.array(nodes, edges.schema.field("src").type), "pr": pr})
    )


def _pr_round(edeg: DataFrame, pr: DataFrame, base: Column | None = None) -> DataFrame:
    """One damped PageRank round: contributions flow along edges (the
    persisted src-partitioned frame), aggregate per destination.
    ``base`` is the teleport term, evaluated per destination ``dst``;
    None means the uniform F.lit(PR_BASE)."""
    if base is None:
        base = F.lit(PR_BASE)
    return (
        edeg.join(pr, edeg["src"] == pr["node"])
        .groupBy(F.col("dst").alias("node2"))
        .agg(
            fround(
                base + F.lit(PR_DAMPING) * F.sum(F.col("pr") / F.col("out_deg")),
                10,
            ).alias("pr")
        )
        .select(F.col("node2").alias("node"), "pr")
    )


def q_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the purchase graph (symmetric edges, so
    out-degree == total degree)."""
    edges = _bipartite_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v): two parts that
    appear together in at least one order. Built with the same
    basket-explode shape as q_part_pairs (one shuffle to baskets, pair
    fan-out bounded by basket size in codegen, never n²) — the
    bipartite purchase graph in graph.py is triangle-free by
    construction, so the triangle/clustering queries run on this
    one-mode projection instead."""
    li = load_tables(spark, sf_dir, register_views=False)["lineitem"].select(
        "l_orderkey", "l_partkey"
    )
    # collect_set dedups within the partial aggregation — one shuffle
    # to baskets instead of distinct() + collect_list (two). The set is
    # sorted once per basket so pair generation can slice the suffix
    # after each element instead of exploding the full k² cross and
    # filtering u < v — half the explode fan-out vanishes before
    # codegen even sees it (r13, guide §2.3: measured 1.93 s → 1.55 s
    # for the edge build at sf0.1, identical distinct edge set).
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    return (
        baskets.select(F.posexplode("parts").alias("i", "u"), "parts")
        .select(
            "u",
            F.explode(F.slice("parts", F.col("i") + 2, F.size("parts"))).alias("v"),
        )
        .distinct()
    )


def _oriented_intersections(spark: SparkSession, sf_dir: str):
    """Degree-ordered orientation machinery shared by
    q_graph_triangles and q_graph_clustering_coefficient: returns
    (edges, deg, inter, m) where inter = one row per ORIENTED edge
    (src, dst, ws) with ws = N⁺(src) ∩ N⁺(dst) — every w ∈ ws closes
    the triangle {src, dst, w}, and each triangle appears on exactly
    one row (any acyclic orientation of a triangle has exactly one
    node with out-degree 2; that node is this row's src). m is the
    (already-eager) edge count the caller sizes
    ``spark.sql.shuffle.partitions`` from (session.scoped_conf around
    its materializing action; SCALING.md finding 1).

    r13 reshape (guide §2.3/§2.4, measured): the previous form
    enumerated wedges (apex, u, v) via an oriented self-join and
    CLOSED them with a join against the undirected edge set — at
    sf0.1 that shuffles the 41.1M-row wedge frame into the closing
    join, 4.9 s of the operator's 7.6 s. This form joins the oriented
    edge list against the per-node out-neighbor ADJACENCY (collect_list
    over oriented, |V| rows bounded by out-deg ≤ O(√m) elements each)
    and intersects the two arrays per edge in codegen
    (F.array_intersect): the wedge frame never exists, the adjacency
    frame is node-sized and broadcasts below the 64 MB threshold
    (measured 3.0 s vs 5.6 s for the same 1 884 488 triangles at
    sf0.1). At cluster scale the asymptotics are unchanged — the
    fallback sort-merge join ships Σ out-deg² array elements, the
    same bytes the wedge shuffle carried — with the constant-factor
    win of partial-agg sums instead of a 3-column row explosion.

    edges (|E|), deg (|V|) and adj (|V|) are PERSISTED — each feeds
    2+ consumers and ReuseExchange dedupes none of them (measured: 0
    ReusedExchange, 14 redundant scans in the lazy triangle plan).
    The caller must materialize its result through the cache (eager
    localCheckpoint) and then unpersist all three (adj is returned
    attached to inter's lineage; callers unpersist via the returned
    handles list).

    The orientation bounds every node's out-degree by O(√m)
    regardless of raw-degree skew (hubs lose the (degree, id)
    comparison on every edge), so Σ |N⁺(u)| · |N⁺(v)| work survives a
    100× scale-up where naive Σ C(deg, 2) does not."""
    edges = _copurchase_edges(spark, sf_dir).persist()
    m = edges.count()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .persist()
    )
    e = (
        edges.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(lower_is_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_is_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).persist()
    # per-node out-neighbor arrays: |V| rows, element count Σ out-deg
    # = m. Persisted eagerly because BOTH sides of the intersection
    # join broadcast it (a lazy frame would re-run the groupBy once
    # per broadcast build).
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs")).persist()
    adj.count()
    inter = (
        oriented.join(
            adj.select(F.col("src").alias("asrc"), F.col("nbrs").alias("nu")),
            F.col("src") == F.col("asrc"),
        )
        .join(
            adj.select(F.col("src").alias("bsrc"), F.col("nbrs").alias("nv")),
            F.col("dst") == F.col("bsrc"),
        )
        .select("src", "dst", F.array_intersect("nu", "nv").alias("ws"))
    )
    return edges, deg, [oriented, adj], inter, m


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count + clustering coefficient of the
    co-purchase graph, via DEGREE-ORDERED edge orientation (the
    standard distributed-triangle algorithm: orient every edge from
    its lower-(degree, id) endpoint to the higher one, enumerate
    wedges from each node's out-neighbors, close them against the
    undirected edge set). The orientation bounds every node's
    out-degree by O(√m) regardless of how skewed the raw degree
    distribution is — the hub node that would generate C(hub_deg, 2)
    wedges in a naive id-ordered enumeration generates almost none
    here, because hubs lose the (degree, id) comparison on every edge.
    This is what makes the wedge fan-out survive a 100× scale-up:
    Σ C(out_deg, 2) ≤ m·√m instead of Σ C(deg, 2).

    Every join is keyed (node / edge ids) — no cartesian anywhere; the
    final assembly cross-joins three 1-ROW aggregate frames
    (deliberate-broadcast pattern shared with text_corpus_report).
    The `edges` subtree feeds degree, orientation, the closing join,
    and the edge count — four consumers. ReuseExchange does NOT
    dedupe them (measured: 0 ReusedExchange, 14 redundant file scans
    in the lazy plan), so the edge frame is persisted eagerly and the
    1-row result materializes through the cache before release — the
    q_pagerank discipline; measured 6.5 s → ~2 s at sf0.1.

    Each triangle is counted exactly once: any acyclic orientation of
    a triangle has exactly one node with out-degree 2 (the wedge
    apex — this row's src in the intersection form). Oracle counts
    the same triangles with the id-ordered 3-way self-join
    (u < v < w) — a different enumeration order, the same set.
    n_wedges = Σ C(deg, 2) over UNDIRECTED degrees;
    global_clustering = 3·triangles / wedges (ratio of exact integers
    → bit-identical across engines before the 6 dp rounding)."""
    edges, deg, handles, inter, m = _oriented_intersections(spark, sf_dir)
    # Σ |ws| = triangle count (sum of exact ints; coalesce keeps the
    # empty-graph case at 0 like the former count(*) did).
    tri = inter.agg(
        F.coalesce(F.sum(F.size("ws")), F.lit(0)).cast("bigint").alias("n_triangles")
    )
    node_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("CAST(d * (d - 1) AS BIGINT) div 2")).alias("n_wedges"),
    )
    edge_stats = edges.agg(F.count("*").alias("n_edges"))
    from pyspark.sql.functions import broadcast

    with scoped_conf(
        spark,
        {"spark.sql.shuffle.partitions": sized_shuffle_partitions(m, GRAPH_EDGE_ROWS_PER_TASK)},
    ):
        out = (
            node_stats.crossJoin(broadcast(edge_stats))
            .crossJoin(broadcast(tri))
            .select(
                "n_nodes",
                "n_edges",
                "n_triangles",
                "n_wedges",
                fround(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
                ).alias("global_clustering"),
            )
            .localCheckpoint(eager=True)
        )
    edges.unpersist()
    deg.unpersist()
    for h in handles:
        h.unpersist()
    return out


# common-neighbors similarity: parts bought by more than this many
# customers are excluded from BOTH intersection and union (an exact,
# deterministic semantics — not an approximation of the uncapped one).
# Hub features carry no discriminative signal (every pair shares
# them), and a single hub part with 10⁶ buyers would otherwise fan
# out C(10⁶, 2) candidate pairs — the idf/stopword cut applied to
# graphs. At the test SFs part degree tops out ~50 (orders/parts
# ratio is SF-invariant), so the cap never binds there; it exists
# for the skewed-catalog case at scale.
CN_DEG_CAP = 200
CN_TOP_K = 20


def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-user collaborative-filtering similarity: the CN_TOP_K
    customer pairs with the highest Jaccard overlap of their (degree-
    capped) purchased-part sets — the classic link-prediction /
    item-based-CF kernel as a batch operator.

    Scale shape: candidate pairs are generated PER PART (basket
    explode, same as q_part_pairs) — fan-out per part is C(buyers, 2)
    with buyers ≤ CN_DEG_CAP, so the candidate volume is
    O(n_parts · CAP²) and never the customer-pair cross product.
    Intersection sizes partial-aggregate per pair; union sizes come
    from one per-customer count joined in twice. The `capped` subtree
    feeds both the pair fan-out and the size frame; ReuseExchange does
    not dedupe identical subtrees in practice (the q_graph_triangles
    measurement), so cp and capped persist eagerly and the top-K
    result materializes through the cache. Final top-K is a TakeOrdered
    (each partition ships only its own top K), tie-broken on
    (jaccard desc, cust_a, cust_b) for cross-engine determinism."""
    t = load_tables(spark, sf_dir, register_views=False)
    cp = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cp = cp.persist()
    pdeg = cp.groupBy("p").agg(F.count("*").alias("d"))
    capped = cp.join(pdeg.filter(F.col("d") <= CN_DEG_CAP).select("p"), "p").persist()
    capped.count()
    cp.unpersist()
    sizes = capped.groupBy("c").agg(F.count("*").alias("n_parts"))
    buyers = capped.groupBy("p").agg(F.collect_list("c").alias("cs"))
    pairs = (
        buyers.select(F.explode("cs").alias("ca"), "cs")
        .select("ca", F.explode("cs").alias("cb"))
        .filter(F.col("ca") < F.col("cb"))
    )
    inter = pairs.groupBy("ca", "cb").agg(F.count("*").alias("n_shared"))
    j = (
        inter.join(sizes.select(F.col("c").alias("ca"), F.col("n_parts").alias("na")), "ca")
        .join(sizes.select(F.col("c").alias("cb"), F.col("n_parts").alias("nb")), "cb")
        .select(
            F.col("ca").alias("cust_a"),
            F.col("cb").alias("cust_b"),
            "n_shared",
            fround(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )
    out = (
        j.orderBy(F.desc("jaccard"), "cust_a", "cust_b")
        .limit(CN_TOP_K)
        .localCheckpoint(eager=True)
    )
    capped.unpersist()
    return out


BFS_MAX_ROUNDS = 8


def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS level sets from a deterministic source (the minimum node id)
    over the symmetric purchase graph — the traversal primitive under
    "how far is every customer from this supplier" / reachability
    questions, and the third iterative-graph shape next to PageRank
    (fixed rounds) and connected components (fixpoint).

    The loop is session.checkpoint_loop over one visited(node, level)
    frame: the frontier is the last level's rows, each round appends
    the frontier's unvisited neighbors at the next level (frontier ⋈
    edges, then an anti-join against visited — both keyed on node),
    and the round's one action reads (last level, |visited|). Edges
    persist ONCE pre-partitioned on src, so each round shuffles only
    the frontier. Terminates when a round adds no node, bounded by
    BFS_MAX_ROUNDS (the oracle unrolls exactly that many rounds; an
    empty frontier makes the remaining rounds no-ops in both engines,
    so early exit is value-identical)."""
    edges = _bipartite_edges(spark, sf_dir).repartition(F.col("src")).persist()
    src_node = edges.agg(F.min("src").alias("s")).collect()[0]["s"]

    def step(visited: DataFrame, last: tuple[int, int]) -> DataFrame:
        level = last[0]
        frontier = visited.filter(F.col("level") == level).select("node")
        nxt = (
            edges.join(frontier, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        return visited.unionAll(nxt.withColumn("level", F.lit(level + 1)))

    def observe(visited: DataFrame) -> tuple[int, int]:
        row = visited.agg(F.max("level"), F.count("*")).collect()[0]
        return row[0], row[1]

    visited, _ = checkpoint_loop(
        spark,
        spark.createDataFrame([(src_node, 0)], "node long, level int"),
        step,
        observe,
        rounds=BFS_MAX_ROUNDS,
        until=lambda prev, obs: obs[1] == prev[1],
    )
    edges.unpersist()
    return (
        visited.groupBy("level")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("level")
    )


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the purchase graph: the Pearson
    correlation of (source degree, destination degree) over the
    symmetric edge list — one number telling whether hubs attach to
    hubs (r > 0, social-network shape) or to leaves (r < 0,
    hub-and-spoke shape), which predicts how the graph partitions
    and where join skew will land before running anything iterative.

    Scale shape: degrees via one partial-agg shuffle, two keyed joins
    annotate each edge's endpoints, and the correlation reduces to
    six scalar moments (the text_zipf_fit OLS kernel, applied to a
    graph) — nothing beyond edge-frame scale is ever shuffled, and
    only the 1-row moment frame leaves the executors. Edges persist
    eagerly (three consumers: degree + both endpoint joins;
    ReuseExchange does not dedupe — the q_graph_triangles
    measurement), and the 1-row result materializes through the
    cache."""
    edges = _bipartite_edges(spark, sf_dir).persist()
    edges.count()
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    ann = (
        edges.join(deg.select(F.col("src"), F.col("d").alias("dx")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dy")), "dst"
        )
        .select(
            F.col("dx").cast("double").alias("x"), F.col("dy").cast("double").alias("y")
        )
    )
    m = ann.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    out = m.select(
        F.col("n").cast("bigint").alias("n_edges"),
        fround(num / den, 6).alias("assortativity"),
    ).localCheckpoint(eager=True)
    edges.unpersist()
    return out


AA_TOP_K = 20


def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the shared-part graph: the
    AA_TOP_K customer pairs by Σ_{shared part p} 1/ln(buyers(p)) —
    the common-neighbors pipeline (q_graph_common_neighbors) with the
    standard rarity weighting: sharing a part only two people buy is
    strong evidence, sharing a best-seller is none. Same degree-capped
    per-part pair generation (fan-out ≤ C(CN_DEG_CAP, 2) per part);
    the 1/ln(d) weight attaches at explode time so the pair reduction
    is a plain partial-agg SUM; cp/capped persist eagerly (the
    ReuseExchange measurement) and the K-row result materializes
    through the cache. Parts with a single buyer generate no
    pairs, so ln(d) ≥ ln 2 — no division-by-zero edge. Scores round
    to 6 dp BEFORE the top-K ordering (tie-broken on the pair ids)
    for cross-engine rank stability."""
    t = load_tables(spark, sf_dir, register_views=False)
    cp = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cp = cp.persist()
    pdeg = cp.groupBy("p").agg(F.count("*").alias("d"))
    capped = (
        cp.join(pdeg.filter(F.col("d") <= CN_DEG_CAP), "p")
        .select("c", "p", (F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("w"))
        .persist()
    )
    capped.count()
    cp.unpersist()
    buyers = capped.groupBy("p", "w").agg(F.collect_list("c").alias("cs"))
    pairs = (
        buyers.select("w", F.explode("cs").alias("ca"), "cs")
        .select("w", "ca", F.explode("cs").alias("cb"))
        .filter(F.col("ca") < F.col("cb"))
    )
    scored = pairs.groupBy("ca", "cb").agg(
        F.count("*").alias("n_shared"), fround(F.sum("w"), 6).alias("aa_score")
    )
    out = (
        scored.select(
            F.col("ca").alias("cust_a"),
            F.col("cb").alias("cust_b"),
            "n_shared",
            "aa_score",
        )
        .orderBy(F.desc("aa_score"), "cust_a", "cust_b")
        .limit(AA_TOP_K)
        .localCheckpoint(eager=True)
    )
    capped.unpersist()
    return out


PPR_TOP_K = 50


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a deterministic seed (the minimum
    customer node): teleport mass returns to the SEED instead of
    spreading uniformly, so the ranks measure proximity to that
    customer — the standard graph-recommender primitive ("suppliers
    and co-customers relevant to THIS account"), and the reason PPR
    rather than global PageRank backs most production
    who-to-recommend systems.

    Same rounds as q_pagerank (per-round fround(10) pinning both
    engines to one grid): a small graph iterates on the driver
    (:func:`_pagerank_on_driver`), a larger one runs the shared
    _pr_round over the persisted src-partitioned edge frame, where
    the seed id is a 1-row bounded collect. The only changes are the
    seed-concentrated base term and pr₀ = 1 at the seed, 0
    elsewhere. Output is the top-PPR_TOP_K nodes by (rounded) rank —
    rank mass outside the seed's neighborhood decays geometrically,
    so the top-K is the useful recommendation slate."""
    edges, edeg = _edges_with_outdeg(spark, sf_dir)
    if edges is not None:
        return _ppr_top(_pagerank_on_driver(spark, edges, personalized=True))
    seed = edeg.agg(
        F.min(F.when(F.col("src") % 2 == 0, F.col("src"))).alias("s")
    ).collect()[0]["s"]
    pr = (
        edeg.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("pr", F.when(F.col("node") == seed, 1.0).otherwise(0.0))
    )
    base = F.when(F.col("dst") == seed, F.lit(PR_BASE)).otherwise(F.lit(0.0))
    for _ in range(PR_ITERATIONS):
        pr = _pr_round(edeg, pr, base)
    out = _ppr_top(pr).localCheckpoint(eager=True)
    edeg.unpersist()
    return out


def _ppr_top(pr: DataFrame) -> DataFrame:
    return _labeled(pr).orderBy(F.desc("pr"), "node_id").limit(PPR_TOP_K)


def q_graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient by degree (round 8): for every
    node, cc = triangles_at_node / C(deg, 2), reported as the classic
    cc-vs-degree curve (per-degree node count + mean local cc) — the
    structure diagnostic next to q_graph_triangles' single global
    number (hierarchical/community graphs show cc falling with
    degree; random graphs show it flat).

    Scale shape: triangles enumerate through the same degree-ordered
    orientation + adjacency intersection as q_graph_triangles (work
    ≤ Σ out-deg² under any skew — see _oriented_intersections' r13
    reshape note); each closed triangle {src, dst, w} explodes to its
    THREE member nodes — output bounded by 3·triangles — and per-node
    counts partial-aggregate. Zero-triangle nodes enter through a
    left join from the degree frame, so the curve's denominator is
    every node with deg ≥ 2. avg_cc is computed per degree group as
    the single exact-integer ratio 2·SUM(t)/(n_nodes·d·(d−1)) — one
    rounding at 6 dp, bit-identical across engines."""
    edges, deg, handles, inter, m = _oriented_intersections(spark, sf_dir)
    tri_nodes = (
        inter.select("src", "dst", F.explode("ws").alias("w"))
        .select(
            F.explode(F.array(F.col("src"), F.col("dst"), F.col("w"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    # Every node in a degree group shares the denominator d*(d-1)/2,
    # so the group mean collapses to one exact-integer ratio:
    # avg_cc(d) = 2*SUM(t) / (n_nodes*d*(d-1)). Averaging per-node
    # ccs pre-rounded at 6 dp instead lands on .5e-6 float ties
    # whenever (sum*1e6) mod n == n/2, and the float64 summation
    # order (distributed vs sequential) decides the side — the exact
    # form has a single rounding and is bit-identical across engines.
    out = (
        deg.filter(F.col("d") >= 2)
        .join(tri_nodes, "node", "left")
        .groupBy("d")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum(F.coalesce(F.col("t"), F.lit(0))).cast("bigint").alias("sum_t"),
        )
        .select(
            "d",
            "n_nodes",
            fround(
                F.col("sum_t") * 2
                / (F.col("n_nodes") * F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("avg_cc"),
        )
        .orderBy("d")
    )
    with scoped_conf(
        spark,
        {"spark.sql.shuffle.partitions": sized_shuffle_partitions(m, GRAPH_EDGE_ROWS_PER_TASK)},
    ):
        out = out.localCheckpoint(eager=True)
    edges.unpersist()
    deg.unpersist()
    for h in handles:
        h.unpersist()
    return out.orderBy("d")


# k-core peel: K sits just below the copurchase median degree
# (~115/119 at the two SFs) so the peel has a real multi-round
# cascade — K=100 leaves 2 live rounds at sf0.01 and 3 at sf0.1
# before the graph collapses (measured; larger K collapses round 2,
# smaller K converges without cascading).
KCORE_K = 100
KCORE_ROUNDS = 4


def q_graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition profile: KCORE_ROUNDS rounds of "drop
    every node with degree < KCORE_K, restrict edges to survivors",
    reporting nodes/edges remaining after each round — the dense-core
    extraction a recommender runs to find the product communities
    worth modeling, and the fixed-round profile exposes the cascade
    speed (how fast the periphery unravels), not just the fixed
    point.

    Scale shape (r14 reshape): the loop is session.checkpoint_loop
    over the |V|-row DEGREE frame, each round ONE job — two
    broadcast-hinted semi-joins restricting the ORIGINAL checkpointed
    edge frame to the survivors of the previous round's degrees, one
    degree reduction (explode(array(u, v)) partial agg) and the stats
    collect that materializes the round and yields both its counts.
    The surviving |E|-row edge frame is never materialized:
    restricting the original edges to the shrinking survivor set is
    identical to compounding per-round restrictions because survivors
    only shrink. Rounds are FIXED, so the DuckDB oracle unrolls the
    same peel as MATERIALIZED CTEs."""
    # lazy checkpoint: the count below is the materializing action
    # (one job, not checkpoint-then-count); it also sizes the
    # per-round shuffle (SCALING.md finding 1).
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    m = edges.count()
    shuffle = {
        "spark.sql.shuffle.partitions": sized_shuffle_partitions(m, GRAPH_EDGE_ROWS_PER_TASK)
    }

    def degrees(e: DataFrame) -> DataFrame:
        # explode(array(u, v)) = the same endpoint multiset as
        # union(select u, select v) in ONE scan of the edge frame
        # instead of two (measured 1.12 -> 0.82 s for the degree job
        # at sf0.1).
        return (
            e.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )

    def bcast(last: tuple[int, int] | None) -> bool:
        # survivors broadcast while they fit; round 0 has no join
        return last is not None and last[0] <= LOOP_BROADCAST_MAX_NODES

    def step(deg: DataFrame, last: tuple[int, int]) -> DataFrame:
        keep = deg.filter(F.col("d") >= KCORE_K).select("node")
        keep_u = keep.select(F.col("node").alias("u"))
        keep_v = keep.select(F.col("node").alias("v"))
        if bcast(last):
            keep_u, keep_v = F.broadcast(keep_u), F.broadcast(keep_v)
        return degrees(
            edges.join(keep_u, "u", "left_semi").join(keep_v, "v", "left_semi")
        )

    def observe(deg: DataFrame) -> tuple[int, int]:
        # n_keep = |{d >= K}| (this round's n_nodes) and sum(d)/2 =
        # the edge count of the round's INPUT (each edge contributes
        # to exactly two node degrees)
        row = deg.agg(
            F.coalesce(F.sum(F.when(F.col("d") >= KCORE_K, 1)), F.lit(0)),
            F.coalesce((F.sum("d") / 2).cast("bigint"), F.lit(0)),
        ).collect()[0]
        return int(row[0]), int(row[1])

    # AQE is scoped off for the broadcast rounds: fixed-shape
    # broadcast rounds gain nothing from re-planning (see
    # q_graph_community_lpa); a 100 TB |V| over
    # LOOP_BROADCAST_MAX_NODES keeps AQE and the shuffle semi-join
    # plan. Rounds 1..R restrict by the previous survivor set; one
    # extra pass after round R prices row R's surviving-edge count.
    deg, stats = checkpoint_loop(
        spark,
        degrees(edges),
        step,
        observe,
        rounds=KCORE_ROUNDS,
        confs=lambda last: (
            {**shuffle, "spark.sql.adaptive.enabled": "false"}
            if bcast(last)
            else shuffle
        ),
    )
    release_checkpoints(spark, deg, edges)
    # row r reports the survivors of round r's filter and the edge set
    # RESTRICTED to them — which is exactly round r+1's input size.
    rows = [
        (r + 1, KCORE_K, stats[r][0], stats[r + 1][1])
        for r in range(KCORE_ROUNDS)
    ]
    return spark.createDataFrame(
        rows, "round int, k int, n_nodes bigint, n_edges bigint"
    ).orderBy("round")


# Fixed synchronous rounds for label propagation: 3 rounds on this
# corpus already coalesce the co-purchase graph into a handful of
# communities (the graph is dense — median degree ~115); more rounds
# only shuffle labels inside the giant component while each round
# adds |E|-scale work and an unrolled oracle level.
LPA_ROUNDS = 3


def q_graph_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation
    (Raghavan et al. 2007) for LPA_ROUNDS FIXED rounds over the
    co-purchase graph: labels start as node ids; each round every
    node adopts its neighbors' most frequent label (ties to the
    smallest — deterministic across engines), all nodes updating
    simultaneously. Reports the final community size distribution —
    the product-community map a recommender reads next to the k-core
    profile (kcore = where the dense mass is, LPA = how it splits).

    Unlike dedup_clusters' connected components (reachability), LPA
    respects edge DENSITY — two cliques joined by one bridge stay
    separate communities while CC merges them.

    Scale shape: per round one join of the directed edge list against
    the |V|-row label frame (the checkpointed label leaf broadcasts —
    materialized LogicalRDDs carry real size stats) and ONE fused
    per-node reduction: mode(lbl, deterministic=true) IS the
    (count DESC, label ASC) vote — "lowest value among the most
    frequent" — as a single ObjectHashAggregate with map-side partial
    maps (r14, guide §2.4). The former two-step form (per-(node,label)
    HashAggregate count, then argmax via max(struct(c, -lbl))) paid a
    second Exchange AND two SortAggregate sorts per round: a struct
    buffer cannot hash-aggregate, so the executed plans showed
    SortAggregate partial/final around the argmax exchange. The loop
    is session.checkpoint_loop over the label frame; each round's one
    action is a count, and round 0's count (|V|) gates the per-round
    broadcast. The community sizes return lazily over the last
    round's labels. Rounds are FIXED, so the DuckDB oracle unrolls the
    same propagation as MATERIALIZED CTEs."""
    # lazy checkpoint: the count below materializes it in one job.
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    # Materializes the checkpoint; sizes the per-round label-vote
    # shuffle with the edge frame (SCALING.md finding 1).
    m = edges.count()
    und = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )

    def bcast(n_nodes: int | None) -> bool:
        # above the cap the rounds keep the shuffle-join plan; a
        # 100 TB |V| outgrows any broadcast
        return n_nodes is not None and n_nodes <= LOOP_BROADCAST_MAX_NODES

    def step(labels: DataFrame, n_nodes: int) -> DataFrame:
        # mode(lbl, deterministic=true) = the most frequent neighbor
        # label, ties to the SMALLEST — exactly the max(struct(c,
        # -lbl)) argmax over per-(node, lbl) counts, fused into one
        # aggregation (one Exchange where two were; no SortAggregate
        # struct sorts).
        lbl_side = labels.withColumnsRenamed({"node": "dst"})
        if bcast(n_nodes):
            lbl_side = F.broadcast(lbl_side)
        return (
            und.join(lbl_side, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.mode(F.col("lbl"), True).alias("lbl"))
        )

    with scoped_conf(
        spark,
        {"spark.sql.shuffle.partitions": sized_shuffle_partitions(m, GRAPH_EDGE_ROWS_PER_TASK)},
    ):
        # Fixed-shape rounds: every join is explicitly broadcast-hinted
        # and every aggregation's input is the same checkpointed edge
        # frame, so AQE has nothing to re-optimize — but it DOES split
        # each round into extra broadcast-materialization jobs and
        # re-planning passes, which dominate a sub-second round (r14,
        # guide §1.2/§2.6). Static planning keeps each round one
        # 2-stage job.
        labels, _ = checkpoint_loop(
            spark,
            und.select(F.col("src").alias("node")).distinct().select(
                "node", F.col("node").alias("lbl")
            ),
            step,
            lambda labels: labels.count(),
            rounds=LPA_ROUNDS,
            confs=lambda n_nodes: (
                {"spark.sql.adaptive.enabled": "false"} if bcast(n_nodes) else {}
            ),
        )
    release_checkpoints(spark, edges)
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("community")
    )
