"""Masked-graph reconstruction harness + mention-embedding averaging."""

from pyspark.sql import functions as F

from multivac_spark.operators import canon
from multivac_spark.operators.evalmetrics import reconstruction_eval
from multivac_spark.sources import corpus, vocab


def test_reconstruction_eval(spark):
    # ring + chords graph: masking degrades but preserves most ranking
    edges = spark.createDataFrame(
        [(i, (i + 1) % 60, 0) for i in range(60)]
        + [(i, (i + 7) % 60, 1) for i in range(0, 60, 3)],
        "head_id long, tail_id long, rel_id long")
    scores = reconstruction_eval(edges, fraction=0.25, k=30)
    assert 0.0 < scores["ndcg_degree"] <= 1.0
    assert 0.0 < scores["ndcg_eigenvector"] <= 1.0


def test_completion_beats_degrade_only(spark):
    """The degree-proportional completion (KronEM/KronGen stand-in) must
    recover ranking quality the bare masked graph loses: masked nodes
    score 0 in the degrade-only ablation but are reattached with
    ≈avg-degree edges by the sampler."""
    from multivac_spark.operators.evalmetrics import (complete_graph,
                                                      mask_nodes)
    edges = spark.createDataFrame(
        [(i, (i + 1) % 60, 0) for i in range(60)]
        + [(i, (i + 7) % 60, 1) for i in range(0, 60, 3)],
        "head_id long, tail_id long, rel_id long")
    completed = reconstruction_eval(edges, fraction=0.25, k=60,
                                    complete=True)
    degraded = reconstruction_eval(edges, fraction=0.25, k=60,
                                   complete=False)
    assert completed["ndcg_degree"] > degraded["ndcg_degree"]

    # every masked node is reattached, kept edges are preserved
    kept, masked = mask_nodes(edges, 0.25, 42)
    comp = complete_graph(kept, masked, 42)
    nodes = {r["node"] for r in masked.collect()}
    comp_heads = {r["head_id"] for r in comp.collect()}
    assert nodes <= comp_heads
    assert comp.count() > kept.count()


def _ref_ndcg(actual, predicted, k):
    """numpy/pandas twin of the reference ndcg (predict_kg.py:339-381),
    transcribed semantics: rank-normalize both, outer-merge, 0-fill,
    act-order top-k, 2**rel-1 gains."""
    import numpy as np
    import pandas as pd

    act = pd.DataFrame(actual, columns=["idx", "value"]).sort_values("value")
    act["value"] = np.arange(len(act)) / max(len(act) - 1, 1)
    pre = pd.DataFrame(predicted, columns=["idx", "value"]).sort_values("value")
    pre["value"] = np.arange(len(pre)) / max(len(pre) - 1, 1)
    comp = act.merge(pre, on="idx", how="outer").fillna(0)
    comp = comp.sort_values(["value_x", "idx"], ascending=[False, True])
    ideal = comp["value_x"].values[:k]
    results = comp["value_y"].values[:k]
    disc = np.log2(np.arange(len(ideal)) + 2)
    return np.sum((2 ** results - 1) / disc) / np.sum((2 ** ideal - 1) / disc)


def test_ndcg_matches_reference_formula(spark):
    import random

    from multivac_spark.operators.evalmetrics import ndcg_at_k

    rng = random.Random(7)
    actual = [(i, rng.random()) for i in range(40)]
    predicted = [(i, rng.random()) for i in range(5, 45)]  # partial overlap
    a_df = spark.createDataFrame(actual, "node long, score double")
    p_df = spark.createDataFrame(predicted, "node long, score double")
    for k in (10, 25, 40):
        got = ndcg_at_k(a_df, p_df, k)
        want = _ref_ndcg(actual, predicted, k)
        assert abs(got - want) < 1e-9, (k, got, want)


def test_mention_embeddings_match_numpy_mean(spark):
    """canon.mention_embeddings == the per-mention np.mean of its
    in-vocabulary token vectors; an all-OOV mention drops out."""
    import numpy as np

    emb = corpus.embeddings_df(spark)
    mentions = []
    for c in vocab.effective_concepts()[:15]:
        variants = vocab.effective_noun_variants()[c]
        mentions.append(variants[0])
        mentions.append(f"viral {variants[0]}")
    mentions.append("zzz_oov_token")  # OOV mention must drop
    mdf = spark.createDataFrame([(m,) for m in mentions], "mention string")
    tok_vec = {r["token"]: np.asarray(r["vector"], dtype=np.float64)
               for r in emb.collect()}
    want = {}
    for m in mentions:
        vecs = [tok_vec[t] for t in m.split() if t in tok_vec]
        if vecs:
            # mention_embeddings returns array<float>
            mean = np.mean(vecs, axis=0).astype(np.float32)
            want[m] = [round(float(x), 5) for x in mean]

    got = {r["mention"]: [round(x, 5) for x in r["vector"]]
           for r in canon.mention_embeddings(mdf, emb).collect()}
    assert "zzz_oov_token" not in got
    assert set(got) == set(want) and len(got) > 1
    for m in got:
        assert got[m] == want[m], m
