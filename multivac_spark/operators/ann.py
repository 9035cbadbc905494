"""Approximate-nearest-neighbor search over embedding columns.

Two paths:
* ``brute_force_topk`` — exact cosine top-k; baseline and the
  within-bucket kernel. Broadcast of the (small) query set against the
  corpus: one pass, no shuffle beyond the final top-k.
* ``lsh_topk`` — sign-bit (random-hyperplane) bucketing, probing the
  query's bucket + multi-probe neighbors; at 100 TB the bucket join
  replaces the full scan (scan cost drops by the bucket fan-out) at
  bounded recall cost.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from .dedup import cosine  # noqa: F401  (re-exported for callers)


def _norm(vd) -> F.Column:
    """L2 norm as the exact sqrt-of-sequential-fold ``cosine`` uses —
    precomputed per ROW before a join so each candidate pair pays one
    dot-product fold instead of three interpreted O(dim) folds (guide
    §1.2 per-task work; same arithmetic, same doubles)."""
    return F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id") -> DataFrame:
    """Exact top-k by cosine: broadcast the query side, rank per query.
    Output (q_id, neighbor, rank, cos_sim_micro) — integer-scaled
    similarity for cross-engine comparison. Casts and norms are
    precomputed per row (``_norm``), not per pair."""
    vd = F.col(vec_col).cast("array<double>")
    q = F.broadcast(queries.select(F.col(q_id_col).alias("q_id"),
                                   vd.alias("qv"), _norm(vd).alias("qn")))
    c = corpus.select(F.col(id_col).alias("neighbor"),
                      vd.alias("cv"), _norm(vd).alias("cn"))
    sim = _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    scored = (q.crossJoin(c)
              .filter(F.col("q_id") != F.col("neighbor"))
              .withColumn("cos_sim_micro",
                          F.floor(sim * 1_000_000).cast("long")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim_micro"),
                                           F.asc("neighbor"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "neighbor", "rank", "cos_sim_micro"))


def _planes(n_planes: int, dim: int, seed: str = "multivac-ann") -> np.ndarray:
    s = int.from_bytes(hashlib.sha256(seed.encode()).digest()[:4], "big")
    return np.random.RandomState(s).standard_normal((n_planes, dim))


def bucket_key(vec_col, planes: np.ndarray):
    bits = []
    for p in planes:
        arr = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(F.zip_with(vec_col, arr, lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _seeded_kmeans(X: np.ndarray, n_centroids: int, iters: int = 10,
                   seed: str = "multivac-ivf") -> np.ndarray:
    """Deterministic k-means on unit vectors (driver-side; the centroid
    codebook is tiny and the training sample is bounded)."""
    s = int.from_bytes(hashlib.sha256(seed.encode()).digest()[:4], "big")
    rng = np.random.RandomState(s)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    C[c] = v / n
    return C


def fixed_codebook(n_centroids: int, dim: int,
                   seed: str = "multivac-ivf-fixed") -> np.ndarray:
    """Data-independent seeded random unit-vector codebook — a valid
    coarse quantizer whose cell assignment an external SQL oracle can
    reproduce from the same literals (the trained k-means codebook is
    data-dependent and thus not expressible in a static oracle)."""
    s = int.from_bytes(hashlib.sha256(seed.encode()).digest()[:4], "big")
    C = np.random.RandomState(s).standard_normal((n_centroids, dim))
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, n_probe: int = 3,
             train_sample: int = 10_000,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id",
             codebook: np.ndarray | None = None) -> DataFrame:
    """IVF ANN: a deterministic k-means codebook partitions the corpus
    into inverted lists; each query probes its ``n_probe`` nearest
    centroids and ranks exactly within those lists. At 100 TB the
    centroid assignment is a narrow map (broadcast codebook matmul) and
    the probe join is an equi-join on the centroid id — scan cost drops
    by ~n_centroids/n_probe at bounded recall cost.

    ``codebook`` overrides the trained k-means quantizer with a caller-
    provided one (see ``fixed_codebook``); training is skipped."""
    import pandas as pd

    if codebook is not None:
        C = np.asarray(codebook, dtype=np.float64)
    else:
        sample = [np.asarray(r[vec_col], dtype=np.float64)
                  for r in corpus.select(vec_col).limit(train_sample).collect()]
        X = np.vstack(sample)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        C = _seeded_kmeans(Xn, n_centroids)
    bc = corpus.sparkSession.sparkContext.broadcast(C)

    def assign_stage(id_alias: str, n_lists: int):
        def run(batches):
            Cb = bc.value
            for pdf in batches:
                V = np.array([np.asarray(v, dtype=np.float64)
                              for v in pdf[vec_col]])
                if len(V) == 0:
                    yield pd.DataFrame({id_alias: [], "vec": [],
                                        "centroid": []})
                    continue
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                sims = Vn @ Cb.T
                tops = np.argsort(-sims, axis=1)[:, :n_lists]
                ids, vecs, cents = [], [], []
                for row_id, vec, trow in zip(pdf.iloc[:, 0], V, tops):
                    for c in trow:
                        ids.append(row_id)
                        vecs.append(vec.tolist())
                        cents.append(int(c))
                yield pd.DataFrame({id_alias: ids,
                                    "vec": pd.Series(vecs, dtype=object),
                                    "centroid": cents})
        return run

    c_assigned = corpus.select(id_col, vec_col).mapInPandas(
        assign_stage("neighbor", 1),
        schema="neighbor long, vec array<double>, centroid int")
    q_assigned = queries.select(q_id_col, vec_col).mapInPandas(
        assign_stage("q_id", n_probe),
        schema="q_id long, vec array<double>, centroid int")

    sim = _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    scored = (q_assigned.withColumnRenamed("vec", "qv")
              .withColumn("qn", _norm(F.col("qv")))
              .join(c_assigned.withColumnRenamed("vec", "cv")
                    .withColumn("cn", _norm(F.col("cv"))), "centroid")
              .filter(F.col("q_id") != F.col("neighbor"))
              .withColumn("cos_sim_micro",
                          F.floor(sim * 1_000_000).cast("long"))
              .dropDuplicates(["q_id", "neighbor"]))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim_micro"),
                                           F.asc("neighbor"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "neighbor", "rank", "cos_sim_micro"))


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_planes: int = 6, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id") -> DataFrame:
    """Bucketed ANN: equal-sign-signature join then exact rank within
    bucket. Multi-probe is modeled by also matching buckets at Hamming
    distance 1 from the query signature (flip one bit)."""
    planes = _planes(n_planes, dim)
    cast = lambda c: F.col(c).cast("array<double>")

    c = corpus.select(F.col(id_col).alias("neighbor"),
                      cast(vec_col).alias("cv"),
                      _norm(cast(vec_col)).alias("cn"),
                      bucket_key(cast(vec_col), planes).alias("bkey"))

    qsig = queries.select(F.col(q_id_col).alias("q_id"),
                          cast(vec_col).alias("qv"),
                          _norm(cast(vec_col)).alias("qn"),
                          bucket_key(cast(vec_col), planes).alias("sig"))
    # probe set: the bucket itself + all 1-bit flips
    probes = F.array(
        F.col("sig"),
        *[F.concat(F.substring("sig", 1, i),
                   F.when(F.substring("sig", i + 1, 1) == "1",
                          F.lit("0")).otherwise(F.lit("1")),
                   F.substring("sig", i + 2, n_planes - i - 1))
          for i in range(n_planes)])
    q = qsig.select("q_id", "qv", "qn", F.explode(probes).alias("bkey"))

    sim = _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    scored = (q.join(c, "bkey")
              .filter(F.col("q_id") != F.col("neighbor"))
              .withColumn("cos_sim_micro",
                          F.floor(sim * 1_000_000).cast("long"))
              .dropDuplicates(["q_id", "neighbor"]))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim_micro"),
                                           F.asc("neighbor"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "neighbor", "rank", "cos_sim_micro"))
