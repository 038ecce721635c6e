"""Graph analytics over the relational testdata: edge-list power
iteration (PageRank-style centrality).

The connected-components operator (operators/text.py: near-dup
clustering) covers convergence-style iteration; this module adds the
other canonical distributed-graph shape — iterative sparse
matrix-vector multiplication over an EDGE LIST: join the rank vector to
the edges on the source key, scale by normalized weight, re-aggregate by
destination. That join+groupBy pair per iteration IS distributed
PageRank; no adjacency materialization, no driver-side graph, and every
iteration shuffles only (node, rank) tuples plus the (reused) edge list.

The reference has no graph surface; this serves the 100 TB extension
brief (influence/centrality over co-occurrence graphs is a standard
corpus-curation signal — e.g. domain authority for web-crawl filtering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import ROUND_DIGITS, query

_D = 0.85          # damping
_ITERS = 2         # fixed unrolled iterations (oracle mirrors exactly)
_MID_R = 8         # intermediate rounding pins FP accumulation cross-engine


def _copurchase_pairs(li, directed: bool):
    """Co-purchase part pairs via per-order array fan-out: group each
    order's distinct parts into one array, explode the pair grid
    map-side. Strictly better than the equivalent self-join on
    l_orderkey (which shuffles the (order, part) table TWICE and builds
    a hash table per order): here the table shuffles once into the
    per-order groups and pairs never touch an exchange until the edge
    aggregation. Measured 2.05 s → 1.66 s at sf0.1; at 100 TB the saved
    shuffle is the bigger win. Per-order fan-out is quadratic in parts
    per order under either formulation (bounded here: TPC-H orders hold
    ≤ 7 lineitems).

    Round 10: the separate ``distinct()`` (one exchange keyed on
    (order, part)) feeding a ``collect_list`` (a second exchange keyed
    on order) is ONE ``collect_set`` aggregate — per-order dedup
    happens inside the partial (map-side) set build, so the
    (order, part) table crosses the wire once, not twice. Every
    consumer is set-semantics (pair grid → groupBy count / distinct):
    element order inside the array never reaches a result.

    ``directed=False`` keeps only src < dst (undirected edge, found
    once); ``directed=True`` emits both orientations."""
    cmp_ = F.col("src") != F.col("dst") if directed else F.col("src") < F.col("dst")
    return (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(cmp_)
    )



@query(
    "graph_copurchase_pagerank",
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*)::BIGINT AS w
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    outw AS (
      SELECT src, sum(w) AS wtot FROM edges GROUP BY src
    ),
    n AS (SELECT count(DISTINCT src) AS n FROM edges),
    r0 AS (SELECT src AS node, 1.0 / n.n AS r FROM outw, n),
    r1 AS (
      SELECT e.dst AS node,
             round((1 - {_D}) / any_value(n.n)
                   + {_D} * sum(r0.r * e.w / o.wtot), {_MID_R}) AS r
      FROM edges e
      JOIN r0 ON r0.node = e.src
      JOIN outw o ON o.src = e.src
      CROSS JOIN n
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             round((1 - {_D}) / any_value(n.n)
                   + {_D} * sum(r1.r * e.w / o.wtot), {_MID_R}) AS r
      FROM edges e
      JOIN r1 ON r1.node = e.src
      JOIN outw o ON o.src = e.src
      CROSS JOIN n
      GROUP BY e.dst
    )
    SELECT r2.node AS p_partkey,
           outw.wtot::BIGINT AS out_weight,
           round(r2.r, {ROUND_DIGITS}) AS rank
    FROM r2 JOIN outw ON outw.src = r2.node
    ORDER BY p_partkey
    """,
)
def graph_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled PageRank iterations (d=0.85) over the part
    co-purchase graph: parts are nodes, edge weight = number of orders
    containing both parts.

    Per iteration: one equi-join of the rank vector to the edge list on
    ``src`` and one re-aggregation on ``dst`` — both hash on part keys,
    and the edge list is persisted so its scan+shuffle is paid once.
    Intermediate ranks round at 1e-8 so Spark's and DuckDB's float
    accumulation orders cannot diverge the hash; final ranks at 1e-4.
    The fixed 2-iteration unroll exists to be oracle-checkable; the
    production form is ``operators.graph.pagerank_until`` — same
    join+reaggregate per round, but iterating to an L1 convergence
    tolerance with a lineage-truncating localCheckpoint every k rounds
    (property-tested against a numpy power-iteration reference in
    tests/test_graph.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        _copurchase_pairs(li, directed=True)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .persist()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wtot")).persist()
    n = outw.select(F.count(F.lit(1)).alias("n"))

    # normalized edge transition weight, reused by every iteration
    trans = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("wtot")).alias("tw")
    )

    rank = outw.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_ITERS):
        rank = (
            trans.join(rank, trans.src == rank.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum(F.col("r") * F.col("tw")).alias("mass"))
            .crossJoin(F.broadcast(n))
            .select(
                F.col("node2").alias("node"),
                F.round(
                    (1 - _D) / F.col("n") + _D * F.col("mass"), _MID_R
                ).alias("r"),
            )
        )
    return (
        rank.join(outw, rank.node == outw.src)
        .select(
            F.col("node").alias("p_partkey"),
            F.col("wtot").cast("bigint").alias("out_weight"),
            F.round("r", ROUND_DIGITS).alias("rank"),
        )
        .orderBy("p_partkey")
    )


_TRIANGLE_MIN_SUPPORT = 2


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_TRIANGLE_MIN_SUPPORT}
    )
    SELECT e1.u AS part_a, e1.v AS part_b, e2.v AS part_c
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ORDER BY part_a, part_b, part_c
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the strong co-purchase graph (edges =
    part pairs sharing ≥ 2 orders): the canonical graph-pattern query
    (cohesion / community signal; in curation pipelines, triangle density
    separates organic link neighborhoods from spam farms).

    Shape: build the edge list once with every edge oriented low→high
    part key, then two self-joins — e(a,b) ⋈ e(b,c) ⋈ e(a,c). The a<b<c
    orientation means each triangle is found exactly once AND each join
    input is the SAME oriented edge list, so Spark reuses one exchange
    for all three legs. The support threshold is the standard scale
    bound (it prunes the quadratic hub fan-out before any join); at
    100 TB you'd additionally orient edges by degree (low-degree node
    first), the classic trick that caps the e(b,c) fan-out — noted, not
    needed at these SFs."""
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        _copurchase_pairs(li, directed=False)
        .groupBy(F.col("src").alias("u"), F.col("dst").alias("v"))
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= _TRIANGLE_MIN_SUPPORT)
        .select("u", "v")
        # Referenced by all three join legs; without the persist each leg
        # re-runs the fact-table self-join (the plan showed 3 independent
        # scan+shuffle pipelines, no ReusedExchange — the legs differ by
        # alias so the exchanges aren't structurally identical).
        .persist()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("part_a"),
            F.col("e1.v").alias("part_b"),
            F.col("e2.v").alias("part_c"),
        )
        .orderBy("part_a", "part_b", "part_c")
    )


_BFS_MAX_LEVEL = 3


@query(
    "graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey <> b.l_partkey
    ),
    reach AS (
      SELECT (SELECT min(src) FROM edges) AS node, 0 AS level
      UNION
      SELECT e.dst, r.level + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.level < {_BFS_MAX_LEVEL}
    ),
    lv AS (SELECT node, min(level) AS level FROM reach GROUP BY node)
    SELECT level, count(*)::BIGINT AS n_parts,
           min(node)::BIGINT AS min_part, max(node)::BIGINT AS max_part
    FROM lv GROUP BY level ORDER BY level
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BREADTH-FIRST SEARCH over the part co-purchase graph: exact hop
    distance from a deterministic seed (the smallest part key), levels
    0..3 — the reachability/expansion primitive behind "related items
    within k hops", blast-radius queries, and seed-expansion labeling in
    corpus curation (expand a trusted domain seed set along the link
    graph).

    Distributed frontier iteration — the third canonical graph shape in
    this module, next to power iteration (pagerank) and oriented
    counting (triangles): per hop, ONE equi-join of the current frontier
    to the edge list on src + a distinct + an anti-join against the
    visited set. The frontier and visited frames hold (node) rows only —
    never edges — so at 100 TB the per-hop shuffles are node-sized while
    the edge list stays partitioned in place (persisted once, reused by
    every hop, same as pagerank's edge reuse). The unroll is fixed at 3
    hops to stay oracle-checkable (DuckDB recursive CTE with UNION-
    distinct semantics — UNION ALL would enumerate PATHS, combinatorial
    on a dense co-purchase graph); unbounded traversal belongs to the
    same convergence loop as operators.graph.pagerank_until, with a
    localCheckpoint every few hops to truncate lineage."""
    li = load_table(spark, sf_dir, "lineitem")
    # Adjacency list, hash-partitioned by src, cached ONCE (round 10).
    # The r9 shape cached a flat (src, dst) pair list `distinct()`-ed on
    # the pair key; because each hop's frontier is a checkpointed RDD
    # whose size estimate is inflated (LogicalRDD carries the
    # pre-checkpoint join/distinct estimate), the planner refused to
    # broadcast it and re-exchanged the WHOLE cached edge list by src
    # on every hop — profiled at sf0.1 as a 22.95 MB edge-sized shuffle
    # written (and read) per hop at hops 2 and 3
    # (round-10 job profile, commit 0ea1141), violating this query's
    # own design claim that per-hop shuffles are node-sized. Aggregating
    # to (src, dsts) leaves the cache hash-partitioned on src — the hop
    # join's distribution requirement — so EnsureRequirements plans
    # every hop with ZERO exchange on the edge side regardless of what
    # it thinks of the frontier's size; only (node) rows shuffle, at
    # any scale. sortWithinPartitions("src") makes the cached side also
    # satisfy a sort-merge join's ordering requirement, so no per-hop
    # re-sort of the adjacency either. Same pair set by construction:
    # collect_set dedups (src, dst) exactly as distinct() did, and
    # every consumer is set-semantics (explode → distinct → anti-join).
    adj = (
        _copurchase_pairs(li, directed=True)
        .groupBy("src")
        .agg(F.collect_set("dst").alias("dsts"))
        .sortWithinPartitions("src")
        .persist()
    )
    seed = adj.select(F.min("src").alias("node"))
    frontier = seed.withColumn("level", F.lit(0))
    visited = frontier.localCheckpoint(eager=True)
    for lvl in range(1, _BFS_MAX_LEVEL + 1):
        nxt = (
            visited.where(F.col("level") == lvl - 1)
            .join(adj, F.col("node") == F.col("src"))
            .select(F.explode("dsts").alias("_dst"))
            .select(F.col("_dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(lvl))
        )
        # Eager checkpoint per hop: keeps each hop's plan one join deep
        # instead of re-deriving every earlier frontier (and bounds
        # lineage growth for deeper traversals).
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
    adj.unpersist()
    return (
        visited.groupBy("level")
        .agg(
            F.count("*").alias("n_parts"),
            F.min("node").alias("min_part"),
            F.max("node").alias("max_part"),
        )
        .orderBy("level")
    )
