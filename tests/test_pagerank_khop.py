"""PageRank + k-hop neighborhood (operators/analytics.py): driver
fast path vs an independent dense-matrix oracle, distributed-path
bit-agreement with the fast path, and BFS ground truth for k_hop."""

import random

import numpy as np
import pytest

from multivac_spark import session
from multivac_spark.operators import analytics


def _random_edges(seed, n_nodes=40, n_edges=120):
    rng = random.Random(seed)
    # include a self-loop and guaranteed dangling nodes (no out-edges)
    edges = {(1, 1)}
    while len(edges) < n_edges:
        h = rng.randrange(n_nodes - 5)     # nodes n-5..n-1 stay dangling
        t = rng.randrange(n_nodes)
        edges.add((h, t))
    return sorted(edges)


def _dense_pagerank(edges, damping=0.85, max_iter=200, tol=1e-12):
    """Independent oracle: explicit Google-matrix power iteration
    (dense), NOT the bincount formulation the operator uses."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for u, v in edges:
        A[idx[v], idx[u]] = 1.0
    outdeg = A.sum(axis=0)
    P = np.divide(A, outdeg, out=np.zeros_like(A), where=outdeg > 0)
    dangling = outdeg == 0
    x = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        nxt = ((1 - damping) / n
               + damping * (P @ x + x[dangling].sum() / n))
        if np.abs(nxt - x).sum() < n * tol:
            x = nxt
            break
        x = nxt
    return dict(zip(nodes, x))


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(h, t, 0) for h, t in edges],
        "head_id long, tail_id long, rel_id long")


def test_pagerank_matches_dense_oracle(spark):
    edges = _random_edges(7)
    got = {r["node"]: r["score"]
           for r in analytics.pagerank(_edges_df(spark, edges),
                                       tol=1e-12).collect()}
    exp = _dense_pagerank(edges)
    assert set(got) == set(exp)
    for nd in exp:
        assert got[nd] == pytest.approx(exp[nd], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_distributed_equals_driver_path(spark, monkeypatch):
    edges = _random_edges(13, n_nodes=25, n_edges=60)
    df = _edges_df(spark, edges)
    fast = {r["node"]: r["score"]
            for r in analytics.pagerank(df, tol=1e-10).collect()}
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    dist = {r["node"]: r["score"]
            for r in analytics.pagerank(df, tol=1e-10).collect()}
    assert set(fast) == set(dist)
    for nd in fast:
        assert dist[nd] == pytest.approx(fast[nd], abs=1e-9)


def test_pagerank_dangling_and_empty(spark):
    # two nodes, one edge a->b: b is dangling, its mass recycles
    df = _edges_df(spark, [(0, 1)])
    got = {r["node"]: r["score"]
           for r in analytics.pagerank(df, tol=1e-12).collect()}
    exp = _dense_pagerank([(0, 1)])
    for nd in exp:
        assert got[nd] == pytest.approx(exp[nd], abs=1e-9)
    empty = _edges_df(spark, []).filter("head_id < 0")
    assert analytics.pagerank(empty).count() == 0


def _bfs(edges, seeds, k, direction):
    adj = {}
    for u, v in edges:
        if u == v:
            continue
        pairs = {"out": [(u, v)], "in": [(v, u)],
                 "both": [(u, v), (v, u)]}[direction]
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
    hops = {s: 0 for s in seeds}
    frontier = set(seeds)
    for depth in range(1, k + 1):
        nxt = set()
        for nd in frontier:
            nxt |= adj.get(nd, set())
        nxt -= hops.keys()
        for nd in nxt:
            hops[nd] = depth
        frontier = nxt
    return hops


@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_k_hop_matches_bfs(spark, direction):
    edges = _random_edges(21, n_nodes=30, n_edges=70)
    df = _edges_df(spark, edges)
    seeds = spark.createDataFrame([(0,), (3,)], "node long")
    for k in (0, 1, 2, 3):
        got = {(r["node"], r["hops"])
               for r in analytics.k_hop(df, seeds, k, direction).collect()}
        exp = set(_bfs(edges, [0, 3], k, direction).items())
        assert got == exp, (direction, k)


def test_k_hop_seed_absent_from_graph(spark):
    df = _edges_df(spark, [(0, 1), (1, 2)])
    seeds = spark.createDataFrame([(99,)], "node long")
    got = {(r["node"], r["hops"])
           for r in analytics.k_hop(df, seeds, 2, "both").collect()}
    assert got == {(99, 0)}  # isolated seed still reported at hop 0


def test_k_hop_bad_direction(spark):
    df = _edges_df(spark, [(0, 1)])
    seeds = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(ValueError):
        analytics.k_hop(df, seeds, 1, "sideways")


def test_k_hop_checkpoints_only_deltas(spark, monkeypatch):
    """Each round checkpoints only the newly reached nodes: walking an
    n-edge chain materializes ≤ 2n+1 rows in total (the adjacency,
    the seed and one row per reached node), not the whole reached set
    once per round (O(n²) rows). The walk cuts the adjacency, the seed
    and each round once: ``n + 2`` barriers. ``DRIVER_ROWS = 0``
    forces the distributed loop; the driver route cuts nothing."""
    n = 30
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    checkpointed = []
    orig = session.stats_barrier

    def counting(df):
        out = orig(df)
        checkpointed.append(out.count())
        return out

    monkeypatch.setattr(session, "stats_barrier", counting)
    df = _edges_df(spark, [(i, i + 1) for i in range(n)])
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {(r["node"], r["hops"])
           for r in analytics.k_hop(df, seeds, n, "out").collect()}
    assert got == {(i, i) for i in range(n + 1)}
    assert sum(checkpointed) <= 2 * n + 1, sum(checkpointed)
    assert len(checkpointed) == n + 2, len(checkpointed)
