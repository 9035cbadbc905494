"""Trained quality classifier — the CCNet/GPT-3/LLaMA curation stage
that MinHash/heuristic filters can't express: a linear classifier
trained to separate a curated reference slice from raw crawl, whose
score becomes the keep/drop (or sampling-temperature) signal.

Re-expressed Spark-first as hashed-feature logistic regression:

* features: L1-normalized hashed bag-of-tokens (md5-derived bucket
  ids — engine-portable, so the scoring path replays exactly in the
  DuckDB oracle; no vocabulary table, no driver state besides the
  ``dim``-float weight vector);
* training: full-batch gradient descent, ONE Spark job per epoch —
  per-partition Arrow batches compute per-doc σ(w·x) against the
  broadcast weights and emit per-bucket partial gradients as
  FIXED-POINT int64 (the transe.py determinism trick: integer sums
  are order/partitioning-independent, so training is bit-identical at
  any parallelism); the driver update touches only the
  dictionary-bounded weight vector;
* scoring: w·x = Σ_tokens w[bucket(t)] / n_tokens — one narrow pass,
  no shuffle, replayable in SQL as an exploded-token join against a
  VALUES weights table.

The reference's counterpart is the GloVe-side quality heuristics; the
trained-classifier shape is public-knowledge curation practice (CCNet
§4.3, GPT-3 appendix A, LLaMA §2.1)."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..session import stage

FIXED_POINT = 1_000_000_000  # gradient quantization (transe.py posture)


def bucket_of(token: str, dim: int) -> int:
    """Driver/SQL-portable feature hash: first 8 md5 hex chars mod dim
    (same arithmetic as textops.hash_uniform)."""
    return int(hashlib.md5(token.encode()).hexdigest()[:8], 16) % dim


def bucket_col(tok: Column, dim: int) -> Column:
    """Column twin of ``bucket_of`` (md5 → 32-bit int → mod dim)."""
    return (F.conv(F.substring(F.md5(tok), 1, 8), 16, 10)
            .cast("long") % dim)


def _doc_buckets(col: Column, dim: int) -> Column:
    from .textops import tokens
    return F.transform(tokens(F.lower(col)), lambda t: bucket_col(t, dim))


def train_quality_clf(docs: DataFrame, label_col: str,
                      text_col: str = "text", dim: int = 256,
                      epochs: int = 30, lr: float = 2.0) -> np.ndarray:
    """docs(+ label 0/1) → weight vector of ``dim`` + 1 floats (last =
    bias). Full-batch GD, one job per epoch, bit-deterministic at any
    parallelism (fixed-point int64 gradient aggregation)."""
    import pandas as pd

    sc = docs.sparkSession.sparkContext
    feats = stage(docs.select(F.col(label_col).cast("double").alias("_y"),
                              _doc_buckets(F.col(text_col), dim).alias("_b"))
                  .filter(F.size("_b") > 0))
    n_docs = feats.count()
    w = np.zeros(dim + 1, dtype=np.float64)

    for _epoch in range(epochs):
        bc = sc.broadcast(w)

        def grads(batches):
            wv = bc.value
            acc = np.zeros(dim + 1, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                # CSR-shaped batch kernel: one flat gather + segmented
                # sums instead of a Python loop per document. All
                # per-doc sums are np.add.reduceat (strict sequential
                # accumulation — the twin uses the same primitive);
                # zero-length segments can't occur (size>0 filter).
                arrs = [np.asarray(a, dtype=np.int64)
                        for a in pdf["_b"]]
                lens = np.fromiter((len(a) for a in arrs),
                                   dtype=np.int64, count=len(arrs))
                flat = np.concatenate(arrs)
                starts = np.zeros(len(arrs), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                y = pdf["_y"].to_numpy(dtype=np.float64)
                x = 1.0 / lens
                z = np.add.reduceat(wv[flat], starts) * x + wv[dim]
                p = 1.0 / (1.0 + np.exp(-z))
                g = p - y
                gq = np.round(g * x * FIXED_POINT).astype(np.int64)
                np.add.at(acc, flat, np.repeat(gq, lens))
                acc[dim] += np.round(g * FIXED_POINT) \
                    .astype(np.int64).sum()
            yield pd.DataFrame({"bucket": np.arange(dim + 1),
                                "g": acc})

        agg = (feats.mapInPandas(grads, schema="bucket long, g long")
               .groupBy("bucket").agg(F.sum("g").alias("g")).collect())
        bc.destroy()
        grad = np.zeros(dim + 1, dtype=np.float64)
        for row in agg:
            grad[row["bucket"]] = row["g"] / FIXED_POINT
        w = w - lr * grad / n_docs
    return w


def train_quality_clf_local(rows: list[tuple[float, list[int]]],
                            dim: int = 256, epochs: int = 30,
                            lr: float = 2.0) -> np.ndarray:
    """Driver twin with the identical fixed-point arithmetic — the
    independent oracle for trajectory-identity tests."""
    w = np.zeros(dim + 1, dtype=np.float64)
    n_docs = len(rows)
    for _epoch in range(epochs):
        acc = np.zeros(dim + 1, dtype=np.int64)
        for y, buckets in rows:
            b = np.asarray(buckets, dtype=np.int64)
            x = 1.0 / len(b)
            # same sequential-sum primitive as the distributed kernel
            # (ndarray.sum switches to pairwise blocking above 128
            # elements and would diverge in the last ulp on long docs)
            z = np.add.reduceat(w[b], [0])[0] * x + w[dim]
            p = 1.0 / (1.0 + np.exp(-z))
            g = p - y
            np.add.at(acc, b, np.int64(round(g * x * FIXED_POINT)))
            acc[dim] += np.int64(round(g * FIXED_POINT))
        w = w - lr * (acc / FIXED_POINT) / n_docs
    return w


def quality_scores(docs: DataFrame, w: np.ndarray,
                   text_col: str = "text", id_col: str = "doc_id",
                   dim: int | None = None) -> DataFrame:
    """(id, quality_e4): floor(σ(w·x)·1e4) per document — one narrow
    Column pass (higher-order functions over the broadcast-literal
    weights array), no UDF, no shuffle; empty docs score the bias."""
    from .dedup import bound

    d = (len(w) - 1) if dim is None else dim
    w_lit = F.array(*[F.lit(float(v)) for v in w[:d]])

    def score(buckets):
        n = F.size(buckets)
        dot = F.aggregate(
            buckets, F.lit(0.0),
            lambda acc, b: acc + F.element_at(w_lit, b.cast("int") + 1))
        z = (F.when(n > 0, dot / n).otherwise(F.lit(0.0))
             + F.lit(float(w[-1])))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        return F.floor(p * 10_000).cast("long")

    # bucket array bound once (size + fold both reference it)
    return docs.select(F.col(id_col),
                       bound(_doc_buckets(F.col(text_col), d), score)
                       .alias("quality_e4"))
