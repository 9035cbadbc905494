"""Graph analytics over the materialized KG.

Reference behaviors:
* degree centrality — nx.degree_centrality top-n
  (get_kg_query_params.py:16-25): degree / (V-1);
* eigenvector centrality — nx.eigenvector_centrality with tolerance
  escalation ×10 on convergence failure (calculate_network_change.py:22-31);
  rebuilt as power iteration: a numpy loop over the collected edge list
  when it fits ``session.driver_frame``, else over the edge DataFrame
  (join + groupBy per step, each step one observed stats_barrier);
* centrality delta — (after-before)/(before+1) per node over a full
  outer join (calculate_network_change.py:17-54);
* key-triple scoring — score(edge) = gain(head)+gain(tail), top-k
  (calculate_network_change.py:81-133).

The graph is treated as undirected and unlabeled, exactly like the
reference building nx.Graph from the first two edge columns
(get_kg_query_params.py:28-33, predict_kg.py:205-212).

Beyond the reference, over directed edges:
* PageRank — a numpy loop when the distinct edge list fits
  ``session.driver_frame``, else one observed stats_barrier per step;
* k-hop neighborhoods and the SPARQL property paths — one frontier
  walk, ``frontier_reach``: a per-root BFS over the collected edges
  when they and the start rows fit ``session.driver_frame`` (and the
  reached pairs stay within ``DRIVER_ROWS``), else a semi-naive loop,
  one observed stats_barrier per round.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import (IntegerType, IntegralType, StructField,
                               StructType)

from ..session import stage


def _adjacency(edges: DataFrame, src: str, dst: str,
               direction: str) -> DataFrame:
    """(u, v) steps along ``direction`` (``out`` src→dst, ``in``
    dst→src, ``both``), self-loop-free, duplicates kept."""
    a = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    b = edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    adj = {"out": a, "in": b, "both": a.union(b)}[direction]
    return adj.filter(F.col("u") != F.col("v"))


def _sym(edges: DataFrame, src: str = "head_id",
         dst: str = "tail_id") -> DataFrame:
    """Undirected view: both directions, self-loop-free, distinct
    neighbor pairs (nx.Graph semantics: parallel edges collapse)."""
    return _adjacency(edges, src, dst, "both").distinct()


def degree_centrality(edges: DataFrame, src: str = "head_id",
                      dst: str = "tail_id") -> DataFrame:
    """(node, degree, centrality_micro): degree/(V-1) scaled to integer
    micro-units for cross-engine comparison.

    One pass over the edge table: the degree aggregate is staged once
    (node-count sized), and the node count V is its row count, observed
    by the staging job itself (deg has one row per node)."""
    sym = _sym(edges, src, dst)
    obs = Observation()
    deg = stage(sym.groupBy(F.col("u").alias("node"))
                .agg(F.count("*").alias("degree"))
                .observe(obs, F.count("*").alias("n")))
    n_nodes = obs.get["n"]
    return deg.withColumn(
        "centrality_micro",
        F.floor(F.col("degree") * 1_000_000 / F.lit(max(n_nodes - 1, 1)))
        .cast("long"))


def eigenvector_centrality(edges: DataFrame, max_iter: int = 30,
                           tol: float = 1e-6,
                           src: str = "head_id",
                           dst: str = "tail_id") -> DataFrame:
    """Power iteration; mirrors the reference's tolerance-escalation loop
    (calculate_network_change.py:22-31) by relaxing tol ×10 if the
    iteration fails to converge within max_iter.

    **Driver route** (the symmetric edge list fits
    ``session.driver_frame``, at most ``DRIVER_ROWS`` rows): that one
    collect feeds a numpy loop with the same formula, norm, convergence
    bound, and escalation schedule, without paying one scheduled Spark
    job per iteration (~0.3s × up to 90 iterations of pure latency on a
    small graph). Same design precedent as canon.cluster_entities: work
    that does not grow with the corpus runs where latency is lowest.

    **Distributed route**: each iteration is one observed
    ``stats_barrier`` (the loop rule of ``session.stats_barrier``)
    staging the unnormalized scores and observing s2 = Σ raw² and
    dot = Σ raw·prev; prev is unit-norm, so ‖x_new − x_prev‖₂ =
    √(2 − 2·dot/√s2). Convergence uses the L2 bound √n·‖Δ‖₂ < n·tol
    (nx checks L1 < n·tol; L1 ≤ √n·L2, so this is the conservative
    side of the same criterion)."""
    from ..session import driver_frame, stats_barrier

    sym = _sym(edges, src, dst)
    pdf = driver_frame(sym)
    if pdf is not None:
        return _driver_scores(sym, pdf, _eigenvector_driver, max_iter, tol)

    sym = stats_barrier(sym)
    obs = Observation()
    nodes = stats_barrier(sym.select(F.col("u").alias("node")).distinct()
                          .observe(obs, F.count("*").alias("n")))
    n = obs.get["n"]
    x = nodes.withColumn("score", F.lit(1.0 / n ** 0.5))
    current_tol = tol
    for _ in range(3):  # tolerance escalation ×10 per attempt
        for _ in range(max_iter):
            msgs = (sym.join(x, sym.v == x.node)
                    .groupBy(F.col("u").alias("node"))
                    .agg(F.sum("score").alias("raw")))
            obs = Observation()
            nxt = stats_barrier(
                x.join(msgs, "node", "left")
                .select("node", F.coalesce("raw", F.lit(0.0)).alias("raw"),
                        F.col("score").alias("prev"))
                .observe(obs, F.sum(F.col("raw") ** 2).alias("s2"),
                         F.sum(F.col("raw") * F.col("prev")).alias("dot"))
                .drop("prev"))
            s2 = obs.get["s2"] or 0.0
            if s2 == 0.0:
                return x
            norm = s2 ** 0.5
            cos = min(1.0, max(-1.0, (obs.get["dot"] or 0.0) / norm))
            x = nxt.select("node", (F.col("raw") / norm).alias("score"))
            delta_l2 = max(0.0, 2.0 - 2.0 * cos) ** 0.5
            if delta_l2 * n ** 0.5 < n * current_tol:
                return x
        current_tol *= 10
    return x


def _driver_scores(e: DataFrame, pdf, kernel, *args) -> DataFrame:
    """The driver routes' one preamble and epilogue: index the collected
    (u, v) edge frame ``pdf`` of ``e`` (sorted node ids, each edge's
    endpoint indices), run the numpy ``kernel(u, v, n, *args)`` → one
    score per node, and return (node, score). A graph without nodes
    returns no rows, typed from ``e``'s (u, v) columns."""
    if pdf.empty:
        return (e.select(F.col("u").alias("node"))
                .union(e.select(F.col("v").alias("node")))
                .select("node", F.lit(0.0).alias("score")))
    ends = (pdf["u"].to_numpy(), pdf["v"].to_numpy())
    node_ids = np.unique(np.concatenate(ends))
    u, v = (np.searchsorted(node_ids, a) for a in ends)
    x = kernel(u, v, len(node_ids), *args)
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"node": node_ids.tolist(), "score": x}))


def _eigenvector_driver(u, v, n: int, max_iter: int, tol: float):
    """numpy twin of the distributed loop: identical update, norm,
    L2 convergence bound, and ×10 tolerance escalation. Validated
    against the pinned integer oracle (entry `eigenvector_centrality`)
    and the two-component pytest."""
    x = np.full(n, 1.0 / n ** 0.5)
    current_tol = tol
    for _attempt in range(3):
        for _ in range(max_iter):
            raw = np.bincount(u, weights=x[v], minlength=n)
            s2 = float(raw @ raw)
            if s2 == 0.0:
                return x
            norm = s2 ** 0.5
            cos = min(1.0, max(-1.0, float(raw @ x) / norm))
            x = raw / norm
            delta_l2 = max(0.0, 2.0 - 2.0 * cos) ** 0.5
            if delta_l2 * n ** 0.5 < n * current_tol:
                return x
        current_tol *= 10
    return x


def centrality_delta(before: DataFrame, after: DataFrame,
                     key: str = "node", val: str = "score") -> DataFrame:
    """(after-before)/(before+1) per node (generate_node_changes,
    calculate_network_change.py:46-54); missing nodes count as 0."""
    b = before.select(F.col(key), F.col(val).alias("_b"))
    a = after.select(F.col(key), F.col(val).alias("_a"))
    return (b.join(a, key, "outer")
            .select(key,
                    ((F.coalesce("_a", F.lit(0.0)) - F.coalesce("_b", F.lit(0.0)))
                     / (F.coalesce("_b", F.lit(0.0)) + 1.0)).alias("gain")))


def top_triples_by_gain(edges: DataFrame, gains: DataFrame,
                        k: int = 25) -> DataFrame:
    """score(edge) = gain(head) + gain(tail); top-k desc
    (get_top_triples, calculate_network_change.py:81-133)."""
    gh = gains.select(F.col("node").alias("head_id"),
                      F.col("gain").alias("_gh"))
    gt = gains.select(F.col("node").alias("tail_id"),
                      F.col("gain").alias("_gt"))
    return (edges.join(F.broadcast(gh), "head_id")
            .join(F.broadcast(gt), "tail_id")
            .withColumn("score", F.col("_gh") + F.col("_gt"))
            .orderBy(F.desc("score"), F.asc("head_id"), F.asc("tail_id"))
            .limit(k)
            .select("head_id", "tail_id", "rel_id", "score"))


def pagerank(edges: DataFrame, damping: float = 0.85,
             max_iter: int = 50, tol: float = 1e-8,
             src: str = "head_id", dst: str = "tail_id") -> DataFrame:
    """Directed PageRank over the KG edge table → (node, score).

    Beyond the reference's centrality pair (degree/eigenvector,
    get_kg_query_params.py:16-25, calculate_network_change.py:22-31):
    the standard entity-importance ranking for a directed KG.
    Semantics follow networkx ``pagerank`` on a DiGraph: parallel
    edges collapse, self-loops retained, uniform 1/outdeg transition
    weights, dangling-node mass redistributed uniformly, L1
    convergence ``Σ|Δ| < n·tol``; scores sum to 1.

    **Driver route** (bounded graphs — the canonical KG's node set is
    dictionary-bounded): the distinct edge list, when it fits
    ``session.driver_frame``, feeds a numpy loop. **Distributed
    route** otherwise: each iteration is one observed ``stats_barrier``
    that stages the new scores and observes the L1 delta and the NEXT
    iteration's dangling mass, like eigenvector_centrality above; the
    only shuffle per round is the keyed groupBy(dst) of contributions.
    """
    from ..session import driver_frame, stats_barrier

    distinct = edges.select(F.col(src).alias("u"),
                            F.col(dst).alias("v")).distinct()
    pdf = driver_frame(distinct)
    if pdf is not None:
        return _driver_scores(distinct, pdf, _pagerank_driver,
                              damping, max_iter, tol)

    e = stats_barrier(distinct)
    nodes = (e.select(F.col("u").alias("node"))
             .union(e.select(F.col("v").alias("node"))).distinct())
    outdeg = e.groupBy(F.col("u").alias("node")) \
        .agg(F.count("*").alias("outdeg"))
    # (node, outdeg|null) — null marks a dangling node
    obs = Observation()
    base = stats_barrier(
        nodes.join(outdeg, "node", "left")
        .observe(obs, F.count("*").alias("n"),
                 F.count_if(F.col("outdeg").isNull()).alias("dangling")))
    n = obs.get["n"]
    x = base.withColumn("score", F.lit(1.0 / n))
    dangling = obs.get["dangling"] / n  # each dangling node holds 1/n
    for _ in range(max_iter):
        w = (x.filter(F.col("outdeg").isNotNull())
             .select(F.col("node").alias("u"),
                     (F.col("score") / F.col("outdeg")).alias("w")))
        msgs = (e.join(w, "u").groupBy(F.col("v").alias("node"))
                .agg(F.sum("w").alias("msg")))
        obs = Observation()
        x = stats_barrier(
            x.join(msgs, "node", "left")
            .withColumn("new_score",
                        F.lit((1.0 - damping) / n)
                        + damping * (F.coalesce("msg", F.lit(0.0))
                                     + F.lit(dangling / n)))
            .observe(obs,
                     F.sum(F.abs(F.col("new_score") - F.col("score")))
                     .alias("l1"),
                     F.sum(F.when(F.col("outdeg").isNull(),
                                  F.col("new_score"))).alias("dang"))
            .select("node", "outdeg", F.col("new_score").alias("score")))
        dangling = obs.get["dang"] or 0.0
        if obs.get["l1"] < n * tol:
            break
    return x.select("node", "score")


def _pagerank_driver(u, v, n: int, damping: float, max_iter: int,
                     tol: float):
    """numpy twin of the distributed loop: identical update order,
    dangling redistribution, and L1 stop rule."""
    outdeg = np.bincount(u, minlength=n).astype(np.float64)
    dangling_mask = outdeg == 0.0

    x = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        w = np.where(dangling_mask, 0.0, x / np.where(outdeg == 0.0,
                                                      1.0, outdeg))
        msgs = np.bincount(v, weights=w[u], minlength=n)
        dangling = float(x[dangling_mask].sum())
        nxt = (1.0 - damping) / n + damping * (msgs + dangling / n)
        l1 = float(np.abs(nxt - x).sum())
        x = nxt
        if l1 < n * tol:
            break
    return x


def frontier_reach(adj: DataFrame, start: DataFrame,
                   max_hops: int | None = None) -> DataFrame:
    """Semi-naive frontier walk → (``_s`` root, ``_n`` node, ``hops``):
    every node reachable from a root through ``adj(u, v)``, once per
    root, at its least hop count. ``start(_s, _n)`` holds the (root,
    node) rows at hop 0; ``max_hops`` stops after that many rounds
    (None: walk until no new node is reached). Neither input need be
    distinct or cut: the routes below take care of both. A null node
    is reached like any other but never expands (no edge joins it).

    Two routes, chosen by ``session.driver_frame`` (the one
    driver-route rule):

    * **Driver route**: ``adj`` and ``start`` each fit, as one bounded
      collect apiece, with nothing staged or ``distinct()``-ed first.
      A per-root BFS over the collected edges returns the same rows as
      one Arrow ``createDataFrame`` — a local relation, so reading the
      result runs no Spark job. The walk gives the route up for the
      distributed one as soon as it has reached more than
      ``DRIVER_ROWS`` (root, node) pairs.
    * **Distributed route** (the oracle): ``adj.distinct()`` is staged
      once with ``stats_barrier``, because every round joins it. Each
      round joins the newest delta against it on one key, takes
      ``distinct``, anti-joins the reached set (null-safe), and cuts
      the new delta — hop number included — with one ``stats_barrier``
      (without the cut, Catalyst's BigInt size stats square per round;
      see session.stats_barrier), whose observed row count ends the
      walk once no new node is reached. The reached set stays a
      plan-level union of those disjoint materialized deltas:
      checkpointing the union itself would pin O(rounds × reached)
      blocks, the shape that OOM'd a 24 GB heap on the sf1.0
      transitive closure (24.9M pairs).

    Work shape of a distributed round: |delta| × fanout, never
    reached ⋈ reached. Pointer doubling (P ∪ P∘P) was measured 6.5×
    slower on the sf0.1 KG's densest predicate slice (1,332 edges →
    390,590 reachability pairs, 34.1 s vs 5.2 s): its round-2/3
    self-joins build a ~100M-row intermediate that distinct() then
    crushes, while the delta chain peaks at |delta| × fanout ≈ 1M.
    Rounds equal the walk's depth, and a diameter-D digraph has
    ≥ D(D+1)/2 reachable pairs, so an unbounded walk from every edge
    runs ≤ √(2·output) rounds.
    """
    from ..session import driver_frame

    adj, start = adj.select("u", "v"), start.select("_s", "_n")
    edges = driver_frame(adj)
    roots = driver_frame(start) if edges is not None else None
    if roots is not None:
        rows = _reach_driver(edges, adj.schema, roots, start.schema,
                             max_hops)
        if rows is not None:
            # object columns: a long column with a null in it stays
            # exact instead of going through float64
            return adj.sparkSession.createDataFrame(
                pd.DataFrame(rows, columns=["_s", "_n", "hops"],
                             dtype=object),
                _reach_schema(adj, start, max_hops))
    return _reach_distributed(adj, start, max_hops)


def _step(adj: DataFrame, delta: DataFrame, hop: int) -> DataFrame:
    """One round's candidate rows: the delta's nodes' successors,
    kept under their root, at hop ``hop``."""
    return (adj.join(delta.select("_s", F.col("_n").alias("u")), "u")
            .select("_s", F.col("v").alias("_n"), F.lit(hop).alias("hops")))


def _reach_schema(adj: DataFrame, start: DataFrame, max_hops):
    """The distributed route's output schema without a plan analysis
    in the common case: the hop-0 rows' (``_s``, ``_n``), whose ``_n``
    a walk that runs rounds unions with ``adj``'s ``v`` (a type
    mismatch is widened by Spark's union), and a non-null int
    ``hops``."""
    s, n = start.schema
    if max_hops != 0:
        v = adj.schema["v"]
        if v.dataType == n.dataType:
            n = StructField("_n", n.dataType, n.nullable or v.nullable)
        else:
            n = start.select("_n").unionByName(
                adj.select(F.col("v").alias("_n"))).schema["_n"]
    return StructType([s, n, StructField("hops", IntegerType(), False)])


def _reach_distributed(adj: DataFrame, start: DataFrame, max_hops):
    """`frontier_reach`'s distributed loop: the edge slice staged once,
    then one observed ``stats_barrier`` per round."""
    from ..session import stats_barrier

    adj = stats_barrier(adj.distinct())
    delta = stats_barrier(
        start.distinct().withColumn("hops", F.lit(0)))
    reached = delta
    hop = 0
    while max_hops is None or hop < max_hops:
        hop += 1
        seen = reached.select(F.col("_s").alias("_rs"),
                              F.col("_n").alias("_rn"))
        obs = Observation()
        delta = stats_barrier(
            _step(adj, delta, hop).distinct()
            .join(seen, F.col("_s").eqNullSafe(F.col("_rs"))
                  & F.col("_n").eqNullSafe(F.col("_rn")), "left_anti")
            .observe(obs, F.count("*").alias("rows")))
        reached = reached.unionByName(delta)
        if obs.get["rows"] == 0:
            break
    return reached


def _rows(pdf, schema) -> list:
    """A collected frame's rows as tuples of Python values, None for
    null (Arrow hands a nullable integral column over as float64 with
    NaN)."""
    cols = []
    for field in schema:
        col = pdf[field.name]
        if col.hasnans:
            integral = isinstance(field.dataType, IntegralType)
            col = [None if pd.isna(x) else int(x) if integral else x
                   for x in col]
        else:
            col = col.tolist()
        cols.append(col)
    return list(zip(*cols))


def _reach_driver(edges, adj_schema, roots, start_schema, max_hops):
    """The driver route's per-root BFS over the collected ``edges(u,
    v)`` from the collected ``roots(_s, _n)`` → (root, node, hops)
    rows, each (root, node) once at its least hop count; None as soon
    as more than ``DRIVER_ROWS`` pairs are reached."""
    from .. import session

    succ: dict = {}
    for u, v in _rows(edges, adj_schema):
        if u is not None:  # a null key joins no delta row
            succ.setdefault(u, set()).add(v)
    frontiers: dict = {}
    for s, n in _rows(roots, start_schema):
        frontiers.setdefault(s, set()).add(n)
    budget = session.DRIVER_ROWS
    rows = []
    for root, frontier in frontiers.items():
        hops = dict.fromkeys(frontier, 0)
        budget -= len(hops)
        hop = 0
        while (budget >= 0 and frontier
               and (max_hops is None or hop < max_hops)):
            hop += 1
            nxt = set()
            for n in frontier:
                for v in succ.get(n, ()):
                    if v not in hops:
                        hops[v] = hop
                        nxt.add(v)
            budget -= len(nxt)
            frontier = nxt
        if budget < 0:
            return None
        rows.extend((root, n, h) for n, h in hops.items())
    return rows


def k_hop(edges: DataFrame, seeds: DataFrame, k: int,
          direction: str = "both", src: str = "head_id",
          dst: str = "tail_id") -> DataFrame:
    """K-hop neighborhood extraction → (node, hops) with hops = the
    MINIMUM distance from any seed (0 for the seeds themselves,
    whether or not they appear in the edge table).

    The subgraph-extraction primitive for KG question answering
    (restrict a query to the k-neighborhood of its seed entities)
    that the reference delegates to in-memory networkx traversals.
    `frontier_reach` from the seeds as one root, at most k rounds,
    never an all-pairs expansion; it chooses the driver or the
    distributed route. ``direction``: ``out`` follows src→dst, ``in``
    follows dst→src, ``both`` treats edges as undirected.
    """
    if direction not in ("out", "in", "both"):
        raise ValueError(f"direction must be out|in|both, got {direction}")
    start = seeds.select(F.lit(0).alias("_s"),
                         F.col(seeds.columns[0]).alias("_n"))
    return (frontier_reach(_adjacency(edges, src, dst, direction), start,
                           max_hops=k)
            .select(F.col("_n").alias("node"), "hops"))
