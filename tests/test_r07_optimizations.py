"""Round-7 optimization pins: every rewrite that changed an operator's
internals is held output-identical to the formulation it replaced.

* SimHash signatures: explode+per-bit-sum aggregation == the per-document
  32-way fold (``simhash_bits``), including empty/whitespace-only docs.
* Corpus sampling: ``_weighted_draw`` replays ``RandomState.choice``'s
  exact draw (same RNG stream, same index) for every cached CDF.
* Mention averaging: ``canon.grouped_mean``, the grouped sequential-add
  vectorized averaging of the driver kernels, is bit-identical to the
  per-mention ``np.mean``.
* Cosine with per-row norms: dot/(na·nb) with precomputed na/nb equals
  the original three-fold ``cosine`` expression bit-for-bit.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF001 = "/root/testdata/sf0.001"


def test_simhash_agg_matches_fold(spark):
    from multivac_spark.operators import dedup

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    edge = spark.createDataFrame(
        [(9001, ""), (9002, "   "), (9003, "a b a"), (9004, "x")],
        "doc_id long, text string")
    both = docs.select("doc_id", "text").unionByName(edge)
    old = both.select("doc_id",
                      dedup.simhash_bits(F.col("text"), 32).alias("s_old"))
    new = (dedup.simhash_signatures_agg(both, n_bits=32)
           .withColumnRenamed("_sig", "s_new"))
    joined = old.join(new, "doc_id")
    assert joined.count() == both.count()
    assert joined.filter(F.col("s_old") != F.col("s_new")).count() == 0


def test_weighted_draw_replays_choice_exactly():
    from multivac_spark.sources import corpus

    for w, cdf in ((corpus._concept_weights(), corpus._concept_cdf()),
                   (corpus._verb_weights(), corpus._verb_cdf()),
                   (corpus._host_weights(), corpus._host_cdf())):
        n = len(w)
        for seed in (0, 7, 123, 99991):
            r1 = np.random.RandomState(seed)
            r2 = np.random.RandomState(seed)
            for _ in range(200):
                a = r1.choice(n, p=w)
                b = corpus._weighted_draw(r2, cdf)
                assert int(a) == b
            # streams stayed in lockstep
            assert r1.random_sample() == r2.random_sample()


def test_grouped_sequential_mean_bit_identical():
    """``canon.grouped_mean``, the by-token-count vectorized averaging
    of the driver clustering kernel and the answer service, ==
    per-mention np.mean, bitwise. (np.add.reduceat was rejected here:
    it is NOT a sequential fold — it diverges from np.mean in the last
    ulp from k=3.)"""
    from multivac_spark.operators.canon import grouped_mean

    rng = np.random.RandomState(42)
    E = rng.standard_normal((500, 50))
    segments = [rng.randint(0, 500, size=k).tolist()
                for k in rng.randint(1, 12, size=400)]
    vec = grouped_mean(E, segments)
    ref = np.vstack([np.mean([E[i] for i in s], axis=0) for s in segments])
    assert (vec == ref).all()  # bitwise, not allclose


def test_precomputed_norm_cosine_bit_identical(spark):
    from multivac_spark.operators.dedup import cosine

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ida"),
                   F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") + 1).alias("ida"),
                   F.col("vec_id").alias("idb"),
                   F.col("embedding").alias("vb"))
    pairs = a.join(b, "ida")
    old = pairs.select(
        "ida", cosine(F.col("va").cast("array<double>"),
                      F.col("vb").cast("array<double>")).alias("c"))
    vd = lambda c: F.col(c).cast("array<double>")
    nrm = lambda c: F.sqrt(F.aggregate(vd(c), F.lit(0.0),
                                       lambda acc, x: acc + x * x))
    dot = F.aggregate(F.zip_with(vd("va"), vd("vb"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    new = pairs.select("ida",
                       (dot / (nrm("va") * nrm("vb"))).alias("c"))
    diffs = (old.withColumnRenamed("c", "c_old").join(new, "ida")
             .filter(F.col("c_old") != F.col("c")).count())
    assert diffs == 0
