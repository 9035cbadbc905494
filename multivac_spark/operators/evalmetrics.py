"""Evaluation metrics for masked-graph reconstruction.

Reference: ``ndcg(actual, predicted, k)`` (predict_kg.py:339-381) —
rank-normalize actual vs predicted centrality scores, outer-join on
node, DCG@k with log2 discounts; used by the masked-graph
reconstruction test (predict_kg.py:201-335, 25% node mask, NDCG@100).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import stage


def ndcg_at_k(actual: DataFrame, predicted: DataFrame, k: int = 100,
              key: str = "node", val: str = "score") -> float:
    """Reference-exact NDCG (predict_kg.py:339-381):

    1. rank-normalize BOTH score vectors independently to [0,1]
       (ascending rank / max rank, predict_kg.py:343-352);
    2. outer-join on node, fill missing with 0 (:354-355);
    3. take the top-k positions of the ACTUAL ordering (:361-368) —
       both DCG and IDCG read those same positions, DCG with the
       predicted relevances, IDCG with the actual ones;
    4. gains are 2**rel - 1, discounts log2(pos + 1) (:370-377).

    Ties are broken by key — DCG-invariant (equal gains commute within
    and across the k boundary) where the reference's np.argsort
    tie-order is merge-order-dependent."""
    n_a = actual.count()
    n_p = predicted.count()
    if n_a == 0 or n_p == 0:
        return 0.0
    w_a = Window.orderBy(F.asc(val), F.asc(key))
    rel_a = actual.select(
        key, ((F.row_number().over(w_a) - 1) / F.lit(max(n_a - 1, 1)))
        .alias("rel_a"))
    w_p = Window.orderBy(F.asc(val), F.asc(key))
    rel_p = predicted.select(
        key, ((F.row_number().over(w_p) - 1) / F.lit(max(n_p - 1, 1)))
        .alias("rel_p"))

    comp = (rel_a.join(rel_p, key, "outer")
            .fillna(0.0, subset=["rel_a", "rel_p"]))
    w_ord = Window.orderBy(F.desc("rel_a"), F.asc(key))
    top = (comp.select("rel_a", "rel_p",
                       F.row_number().over(w_ord).alias("pos"))
           .filter(F.col("pos") <= k))
    row = (top.select(
        ((F.pow(F.lit(2.0), F.col("rel_p")) - 1)
         / F.log2(F.col("pos") + 1)).alias("g"),
        ((F.pow(F.lit(2.0), F.col("rel_a")) - 1)
         / F.log2(F.col("pos") + 1)).alias("ig"))
        .agg(F.sum("g").alias("dcg"), F.sum("ig").alias("idcg"))
        .collect()[0])
    return float(row["dcg"] / row["idcg"]) if row["idcg"] else 0.0


def complete_graph(kept: DataFrame, masked: DataFrame,
                   seed: int = 42) -> DataFrame:
    """Degree-proportional completion of a masked graph — the stand-in
    for the reference's external KronEM/KronGen binaries
    (predict_kg.py:40,97,201-335): Kronecker models encode heavy-tailed
    degree bias; the sampler reattaches every masked node with
    round(avg-degree) edges whose endpoints are drawn from the kept
    graph proportional to degree (preferential attachment), via
    deterministic hashing (no RNG state — any executor count reproduces
    the same completion).

    Scale shape: the cumulative-degree table is a single bounded window
    over the node dictionary (entity dictionaries are top-N-truncated
    by construction) and rides into the slot join as a broadcast range
    join; the masked side stays distributed."""
    deg = (kept.select(F.col("head_id").alias("node"))
           .union(kept.select(F.col("tail_id").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    totals = deg.agg(F.sum("deg").alias("total"),
                     F.count("*").alias("n")).collect()[0]
    total, n = int(totals["total"]), int(totals["n"])
    if n == 0:
        return kept
    k_per_node = max(1, round(total / (2 * n)))  # ≈ average degree / 2

    w = Window.orderBy(F.asc("node"))
    intervals = F.broadcast(
        deg.withColumn("hi", F.sum("deg").over(w))
        .withColumn("lo", F.col("hi") - F.col("deg"))
        .select(F.col("node").alias("target"), "lo", "hi"))

    slots = masked.select(
        "node", F.explode(F.sequence(F.lit(1), F.lit(k_per_node)))
        .alias("slot"))
    draw = F.pmod(F.abs(F.hash(F.col("node"), F.col("slot"),
                               F.lit(seed))), F.lit(total))
    sampled = (slots.withColumn("draw", draw)
               .join(intervals, (F.col("draw") >= F.col("lo"))
                     & (F.col("draw") < F.col("hi")))
               .filter(F.col("node") != F.col("target"))
               .select(F.col("node").alias("head_id"),
                       F.col("target").alias("tail_id"),
                       F.lit(-1).cast("long").alias("rel_id"))
               .distinct())
    return kept.select("head_id", "tail_id", "rel_id").unionByName(sampled)


def reconstruction_eval(edges: DataFrame, fraction: float = 0.25,
                        k: int = 100, seed: int = 42,
                        complete: bool = True,
                        method: str = "degree") -> dict[str, float]:
    """Masked-graph reconstruction harness (predict_kg.py:201-335
    shape): mask a node fraction, COMPLETE the masked graph, recompute
    degree + eigenvector centrality, score against the full-graph
    ranking with NDCG@k. Returns {"ndcg_degree", "ndcg_eigenvector"}.

    ``method``: "degree" = degree-proportional sampler (baseline);
    "kron" = fitted-initiator Kronecker completion (operators/kron.py,
    the KronEM/KronGen twin the reference actually runs). Pass
    ``complete=False`` for the degrade-only ablation."""
    from . import analytics

    kept, masked = mask_nodes(edges, fraction, seed)
    if not complete:
        scored = kept
    elif method == "kron":
        from .kron import kron_complete_graph
        scored = kron_complete_graph(kept, masked, seed)
    else:
        scored = complete_graph(kept, masked, seed)
    # the centrality iterations below re-evaluate their input many
    # times — cut the completion lineage once instead of paying the
    # sampler joins/windows per power-iteration round
    scored = stage(scored)
    full_deg = analytics.degree_centrality(edges) \
        .select("node", F.col("centrality_micro").cast("double")
                .alias("score"))
    mask_deg = analytics.degree_centrality(scored) \
        .select("node", F.col("centrality_micro").cast("double")
                .alias("score"))
    full_eig = analytics.eigenvector_centrality(edges, max_iter=15)
    mask_eig = analytics.eigenvector_centrality(scored, max_iter=15)
    return {
        "ndcg_degree": ndcg_at_k(full_deg, mask_deg, k),
        "ndcg_eigenvector": ndcg_at_k(full_eig, mask_eig, k),
    }


def mask_nodes(edges: DataFrame, fraction: float = 0.25,
               seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """Deterministically drop a fraction of nodes (and their edges) —
    the masked-graph reconstruction setup (predict_kg.py:201-267).
    Masking is hash-based (no RNG state), so any executor count
    reproduces the same mask."""
    nodes = (edges.select(F.col("head_id").alias("node"))
             .union(edges.select(F.col("tail_id").alias("node")))
             .distinct())
    masked = nodes.filter(
        F.pmod(F.abs(F.hash(F.col("node"), F.lit(seed))), 10_000)
        < int(fraction * 10_000))
    kept = edges.join(masked.withColumnRenamed("node", "head_id"),
                      "head_id", "left_anti") \
        .join(masked.withColumnRenamed("node", "tail_id"),
              "tail_id", "left_anti")
    return kept, masked
