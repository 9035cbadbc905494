"""Distributed GloVe embedding training (the trainEmbeddings boundary).

Reference behavior: the reference trains its word/mention embeddings
with an external GloVe run — ``trainEmbeddings.R`` drives
text2vec's GloVe over the cleaned corpus and ``glove.py`` loads the
resulting vectors for the mention-similarity pipeline (SURVEY §3.3
external-boundary list). Until round 6 this repo treated those vectors
as an input-table assumption (synthesized ``embeddings.parquet``);
this module closes the gap with a Spark-native trainer so the whole
embedding story — co-occurrence → training → mention means →
clustering — runs in-engine.

Method is Pennington et al. 2014 (public): weighted least squares on
the log co-occurrence matrix,

    loss = Σ_ij f(X_ij) (w_i·w̃_j + b_i + b̃_j − log X_ij)²,
    f(x) = min(1, (x/x_max)^α),

with AdaGrad updates. The architecture reuses the deterministic
distributed-training design proven by ``operators/transe.py``:

* **Co-occurrence is fully distributed and fixed-point.** Tokens →
  windowed (i, j, 1/distance) pairs via array HOFs (no self-join of
  positions — the pair list is generated inside the row), vocabulary
  bounded to the top-V types (the same bounded-dictionary posture as
  the reference's top-50k mentions), and the 1/d weights are
  quantized to int64 *before* the groupBy sum, so the aggregated
  matrix is bit-identical at any parallelism (float sums are not:
  1/3 rounds differently under different addition orders).
* **Parameter state is dictionary-bounded**: 2·V·(dim+1) floats —
  a few MB at V=50k — driver-resident, shipped to executors in the
  per-epoch kernel closure exactly like transe.py.
* **One Spark job per epoch**: an Arrow-batched ``mapInPandas``
  kernel accumulates each partition's gradients into a local int64
  grid (quantized per pair-row, integer adds after that) and emits
  only nonzero ``(kind, id, dim, q)`` cells; ``groupBy.sum`` reduces
  them (map-side combine) and the bounded result is collected for
  the driver-side AdaGrad step. Work per epoch ∝ |X| (the pair
  count), emitted rows ≤ 2·V·(dim+1) per partition regardless of
  |X|.
* **Bit-deterministic at any parallelism**: per-row gradient cells
  are quantized to fixed-point int64 before accumulation, so every
  reduction is integer addition — associative, commutative, and
  partitioning-independent. ``train_glove_local`` is the numpy twin
  with the same arithmetic; tests pin distributed == local exactly.

Overflow headroom: per-row |quantized cell| ≤ CLIP·GRAD_SCALE ≈ 2³³;
int64 holds ~2³⁰ such rows per cell per epoch — far beyond any
realistic co-occurrence fan-in (a cell's fan-in is one word's
neighbor count ≤ V).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..session import stage
from .transe import splitmix64, _U64

GRAD_SCALE = float(1 << 20)    # fixed-point quantum for gradient cells
WEIGHT_SCALE = 1 << 20         # fixed-point quantum for 1/d weights
CLIP = 10.0                    # per-pair clip on f(x)·diff
DEFAULT_DIM = 32
DEFAULT_WINDOW = 5
DEFAULT_XMAX = 100.0
DEFAULT_ALPHA = 0.75
DEFAULT_LR = 0.05


# --------------------------------------------------------------------------
# co-occurrence
# --------------------------------------------------------------------------

def top_vocab(docs: DataFrame, vocab_size: int,
              text_col: str = "text") -> list[str]:
    """The top-``vocab_size`` whitespace token types by count (ties by
    token asc — fully deterministic), lowercased. Bounded by
    construction: one distributed count, one bounded collect."""
    counts = (docs.select(F.explode(_tokens(text_col)).alias("w"))
              .groupBy("w").count()
              .orderBy(F.col("count").desc(), F.col("w"))
              .limit(vocab_size))
    return [r["w"] for r in counts.collect()]


def _tokens(text_col: str):
    return F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "")


def build_cooccurrence(docs: DataFrame, vocab: list[str],
                       window: int = DEFAULT_WINDOW,
                       text_col: str = "text") -> DataFrame:
    """→ (wi int, wj int, xq long): the symmetric windowed
    co-occurrence matrix with 1/distance weighting, weights quantized
    to int64 (``xq = Σ round(WEIGHT_SCALE/d)``) so the sum is
    order-independent.

    The pair list is built per row with array HOFs (positions ×
    offsets), never a positional self-join — no shuffle until the
    final groupBy on (wi, wj), which is map-side combinable and
    bounded by V² output. The vocabulary join is a broadcast of the
    (word → id) dictionary, the only small side in the flow."""
    spark = docs.sparkSession
    vdf = F.broadcast(spark.createDataFrame(
        [(w, i) for i, w in enumerate(vocab)], "w string, id int"))

    toks = docs.select(_tokens(text_col).alias("toks"))
    n = F.size("toks")
    # (a, b, d): token at i co-occurring with token at i+d, d ≤ window
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(0), n - F.lit(2)),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(window), n - 1 - i)),
            lambda d: F.struct(
                F.element_at("toks", (i + 1).cast("int")).alias("a"),
                F.element_at("toks", (i + d + 1).cast("int")).alias("b"),
                d.alias("d")))))
    flat = (toks.filter(n >= 2).select(F.explode(pairs).alias("p"))
            .select("p.a", "p.b", "p.d"))
    ids = (flat
           .join(vdf.withColumnRenamed("w", "a")
                 .withColumnRenamed("id", "ia"), "a")
           .join(vdf.withColumnRenamed("w", "b")
                 .withColumnRenamed("id", "ib"), "b")
           .select("ia", "ib",
                   F.round(F.lit(WEIGHT_SCALE) / F.col("d"))
                   .cast("long").alias("wq")))
    # symmetric window: each ordered pair contributes to both X_ij
    # and X_ji (the standard GloVe corpus pass)
    sym = ids.unionByName(
        ids.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"),
                   "wq"))
    return (sym.groupBy(F.col("ia").alias("wi"), F.col("ib").alias("wj"))
            .agg(F.sum("wq").alias("xq")))


# --------------------------------------------------------------------------
# deterministic arithmetic shared by the Spark kernel and the numpy twin
# --------------------------------------------------------------------------

def init_params(n_vocab: int, dim: int, seed: int = 7):
    """splitmix64-derived uniform init in [-0.5, 0.5]/dim — stateless
    and identical everywhere (same trick as transe.init_embeddings)."""
    cells = np.arange(2 * n_vocab * (dim + 1), dtype=np.uint64)
    u = splitmix64(cells + _U64(seed * 0x9E3779B1)).astype(np.float64)
    u = (u / float(2**64) - 0.5) / dim
    flat = u.reshape(2 * n_vocab, dim + 1)
    W = flat[:n_vocab, :dim].copy()
    Wt = flat[n_vocab:, :dim].copy()
    b = flat[:n_vocab, dim].copy()
    bt = flat[n_vocab:, dim].copy()
    return W, Wt, b, bt


def quantized_glove_gradients(W, Wt, b, bt, ia, ib, xq,
                              xmax=DEFAULT_XMAX, alpha=DEFAULT_ALPHA):
    """Per-partition gradient grids, int64-quantized per pair-row
    before accumulation → (gW, gWt, gb, gbt) int64 arrays."""
    dim = W.shape[1]
    x = xq.astype(np.float64) / WEIGHT_SCALE
    fx = np.minimum(1.0, (x / xmax) ** alpha)
    diff = (np.einsum("ij,ij->i", W[ia], Wt[ib])
            + b[ia] + bt[ib] - np.log(x))
    g = np.clip(fx * diff, -CLIP, CLIP)
    gW = np.zeros((W.shape[0], dim), dtype=np.int64)
    gWt = np.zeros_like(gW)
    gb = np.zeros(W.shape[0], dtype=np.int64)
    gbt = np.zeros_like(gb)
    np.add.at(gW, ia, np.round(g[:, None] * Wt[ib] * GRAD_SCALE)
              .astype(np.int64))
    np.add.at(gWt, ib, np.round(g[:, None] * W[ia] * GRAD_SCALE)
              .astype(np.int64))
    np.add.at(gb, ia, np.round(g * GRAD_SCALE).astype(np.int64))
    np.add.at(gbt, ib, np.round(g * GRAD_SCALE).astype(np.int64))
    return gW, gWt, gb, gbt


def _adagrad_step(params, hists, grads_q, lr):
    """Driver-side AdaGrad over the dequantized epoch gradients —
    float64 on one machine, so no cross-machine float-order concerns."""
    for p, h, gq in zip(params, hists, grads_q):
        g = gq.astype(np.float64) / GRAD_SCALE
        h += g * g
        p -= lr * g / np.sqrt(h + 1e-8)


# --------------------------------------------------------------------------
# training
# --------------------------------------------------------------------------

def train_glove(cooc: DataFrame, n_vocab: int, dim: int = DEFAULT_DIM,
                epochs: int = 10, lr: float = DEFAULT_LR,
                xmax: float = DEFAULT_XMAX, alpha: float = DEFAULT_ALPHA,
                seed: int = 7):
    """Distributed GloVe: one Spark job per epoch over the (wi, wj,
    xq) co-occurrence table; gradients reduce as int64 cells; the
    driver applies AdaGrad. Returns (W, Wt, b, bt); use ``W + Wt`` as
    the published vectors (the paper's recommendation)."""
    W, Wt, b, bt = init_params(n_vocab, dim, seed)
    hists = [np.zeros_like(W), np.zeros_like(Wt),
             np.zeros_like(b), np.zeros_like(bt)]
    cooc = stage(cooc.select("wi", "wj", "xq"))

    for _epoch in range(epochs):
        Wc, Wtc, bc, btc = W.copy(), Wt.copy(), b.copy(), bt.copy()

        def kernel(batches, _p=(Wc, Wtc, bc, btc)):
            import pandas as pd

            Wk, Wtk, bk, btk = _p
            d = Wk.shape[1]
            gW = np.zeros_like(Wk, dtype=np.int64)
            gWt = np.zeros_like(Wtk, dtype=np.int64)
            gb = np.zeros(Wk.shape[0], dtype=np.int64)
            gbt = np.zeros_like(gb)
            for pdf in batches:
                if not len(pdf):
                    continue
                a, bb, c, dd = quantized_glove_gradients(
                    Wk, Wtk, bk, btk,
                    pdf["wi"].to_numpy(np.int64),
                    pdf["wj"].to_numpy(np.int64),
                    pdf["xq"].to_numpy(np.int64), xmax, alpha)
                gW += a
                gWt += bb
                gb += c
                gbt += dd
            out = []
            for kind, grid in ((0, gW), (1, gWt)):
                ids, dims = np.nonzero(grid)
                out.append(pd.DataFrame(
                    {"kind": np.int8(kind), "id": ids.astype(np.int32),
                     "d": dims.astype(np.int32), "q": grid[ids, dims]}))
            for kind, vec in ((2, gb), (3, gbt)):
                ids = np.nonzero(vec)[0]
                out.append(pd.DataFrame(
                    {"kind": np.int8(kind), "id": ids.astype(np.int32),
                     "d": np.int32(0), "q": vec[ids]}))
            yield pd.concat(out, ignore_index=True)

        cells = (cooc.mapInPandas(
            kernel, "kind tinyint, id int, d int, q long")
            .groupBy("kind", "id", "d").agg(F.sum("q").alias("q"))
            .collect())

        grads = [np.zeros_like(W, dtype=np.int64),
                 np.zeros_like(Wt, dtype=np.int64),
                 np.zeros(len(b), dtype=np.int64),
                 np.zeros(len(bt), dtype=np.int64)]
        for r in cells:
            if r["kind"] < 2:
                grads[r["kind"]][r["id"], r["d"]] = r["q"]
            else:
                grads[r["kind"]][r["id"]] = r["q"]
        _adagrad_step([W, Wt, b, bt], hists, grads, lr)
    return W, Wt, b, bt


def train_glove_local(cooc_np: np.ndarray, n_vocab: int,
                      dim: int = DEFAULT_DIM, epochs: int = 10,
                      lr: float = DEFAULT_LR, xmax: float = DEFAULT_XMAX,
                      alpha: float = DEFAULT_ALPHA, seed: int = 7):
    """The numpy twin: same init, same quantized gradients, same
    AdaGrad — bit-identical to ``train_glove`` at any parallelism
    (int64 accumulation is partitioning-independent). ``cooc_np`` is
    an (n, 3) int64 array of (wi, wj, xq) rows."""
    W, Wt, b, bt = init_params(n_vocab, dim, seed)
    hists = [np.zeros_like(W), np.zeros_like(Wt),
             np.zeros_like(b), np.zeros_like(bt)]
    ia = cooc_np[:, 0].astype(np.int64)
    ib = cooc_np[:, 1].astype(np.int64)
    xq = cooc_np[:, 2].astype(np.int64)
    for _epoch in range(epochs):
        grads = quantized_glove_gradients(W, Wt, b, bt, ia, ib, xq,
                                          xmax, alpha)
        _adagrad_step([W, Wt, b, bt], hists, list(grads), lr)
    return W, Wt, b, bt


def glove_loss_local(cooc_np: np.ndarray, W, Wt, b, bt,
                     xmax: float = DEFAULT_XMAX,
                     alpha: float = DEFAULT_ALPHA) -> float:
    """The GloVe objective on a co-occurrence array (test oracle)."""
    ia, ib = cooc_np[:, 0], cooc_np[:, 1]
    x = cooc_np[:, 2].astype(np.float64) / WEIGHT_SCALE
    fx = np.minimum(1.0, (x / xmax) ** alpha)
    diff = (np.einsum("ij,ij->i", W[ia], Wt[ib])
            + b[ia] + bt[ib] - np.log(x))
    return float(np.sum(fx * diff * diff))


def embeddings_df(spark, vocab: list[str], W: np.ndarray,
                  Wt: np.ndarray) -> DataFrame:
    """(token, vector array<float>) — the published ``W + W̃`` vectors
    in the exact schema of the synthesized embeddings input table
    (``sources/corpus.embeddings_df``), so the trained vectors drop
    straight into ``canon.mention_embeddings`` / ``cluster_entities``
    in place of the table this trainer replaces."""
    V = W + Wt
    rows = [(w, [float(x) for x in V[i]]) for i, w in enumerate(vocab)]
    return spark.createDataFrame(rows, "token string, "
                                       "vector array<float>")
