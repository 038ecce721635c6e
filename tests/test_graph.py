"""Convergence-mode PageRank operator (operators/graph.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_imdb_classifier_spark.operators.graph import pagerank_until

# Weighted directed fixture: symmetric support (every node has in- and
# out-edges) with asymmetric weights, so ranks are non-uniform and the
# total mass is conserved at 1.
_EDGES = [
    (1, 2, 3), (2, 1, 1),
    (2, 3, 2), (3, 2, 2),
    (3, 4, 1), (4, 3, 4),
    (4, 1, 2), (1, 4, 1),
    (1, 3, 1), (3, 1, 1),
]


def _numpy_pagerank(edges, damping=0.85, iters=200):
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    for s, d, w in edges:
        P[idx[s], idx[d]] += w
    P /= P.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - damping) / n + damping * (P.T @ r)
    return dict(zip(nodes, r))


def _edges_df(spark):
    return spark.createDataFrame(_EDGES, "src long, dst long, w long")


def test_pagerank_until_converges_and_matches_reference(spark):
    ranks, n_iters, delta = pagerank_until(
        _edges_df(spark), tol=1e-9, max_iters=100, checkpoint_every=3
    )
    assert delta < 1e-9
    assert 0 < n_iters < 100
    got = {r["node"]: r["r"] for r in ranks.collect()}
    want = _numpy_pagerank(_EDGES)
    assert set(got) == set(want)
    for v in got:
        assert got[v] == pytest.approx(want[v], abs=1e-7)
    # mass conserved (all nodes have in- and out-edges)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_until_returned_vector_is_a_fixpoint(spark):
    """Property: applying one MORE iteration to the returned ranks moves
    them by less than tol — the convergence criterion is about the
    output, not just the loop's exit condition."""
    tol = 1e-8
    edges = _edges_df(spark)
    ranks, _, _ = pagerank_until(
        edges, tol=tol, max_iters=100, checkpoint_every=5
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wtot"))
    trans = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("wtot")).alias("tw")
    )
    n = outw.count()
    stepped = (
        trans.join(ranks, trans.src == ranks.node)
        .groupBy(F.col("dst").alias("node"))
        .agg(
            (F.lit((1 - 0.85) / n) + 0.85 * F.sum(F.col("r") * F.col("tw")))
            .alias("r2")
        )
    )
    moved = (
        stepped.join(ranks, "node")
        .agg(F.sum(F.abs(F.col("r2") - F.col("r"))).alias("d"))
        .first()["d"]
    )
    assert moved < tol


def test_pagerank_until_bounded_by_max_iters(spark):
    ranks, n_iters, delta = pagerank_until(
        _edges_df(spark), tol=0.0, max_iters=3, checkpoint_every=2
    )
    assert n_iters == 3
    assert delta > 0.0  # tol=0 is unreachable; loop stopped on the bound
    assert ranks.count() == 4


def test_pagerank_until_rejects_empty_edges(spark):
    empty = _edges_df(spark).where(F.lit(False))
    with pytest.raises(ValueError):
        pagerank_until(empty)


def test_bfs_hop_join_reuses_adjacency_partitioning(spark):
    """graph_bfs_levels (round 10): the cached adjacency list is
    hash-partitioned on src by its groupBy, so a hop join against it
    must plan ZERO exchange on the adjacency side — only the frontier
    (node rows) shuffles. The r9 shape cached a flat pair list and the
    planner re-exchanged the whole edge list by src on every hop
    (round-10 job profile, commit 0ea1141: a 22.95 MB edge shuffle
    written per hop at sf0.1); this pins the fixed shape by counting
    Exchange nodes in the hop-join plan: exactly one (the frontier side)."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (2, 4)], "src int, dst int"
    )
    # Force the sf0.1 decision shape: no broadcast fallback (at bench SF
    # the frontier's checkpoint-inflated estimate blocks broadcast), no
    # AQE wrapper (so the plan tree is walkable).
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    adj = (
        pairs.groupBy("src")
        .agg(F.collect_set("dst").alias("dsts"))
        .sortWithinPartitions("src")
        .persist()
    )
    try:
        adj.count()  # materialize the cache, as the seed job does
        frontier = spark.createDataFrame([(1,)], "node int")
        hop = adj.join(frontier, F.col("node") == F.col("src")).select(
            F.explode("dsts").alias("node")
        )
        root = hop._jdf.queryExecution().executedPlan()

        def nodes(n):
            yield n
            for i in range(n.children().size()):
                yield from nodes(n.children().apply(i))

        names = [n.getClass().getSimpleName() for n in nodes(root)]
        assert "InMemoryTableScanExec" in names  # the cache is read
        # Exactly one shuffle — the frontier side; the adjacency side's
        # cached hash(src) partitioning satisfies the join distribution.
        assert names.count("ShuffleExchangeExec") == 1, names
    finally:
        adj.unpersist()
        for k, v in saved.items():
            spark.conf.set(k, v)
