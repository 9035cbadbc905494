"""Canonicalization vs exact-clustering oracle (FIXTURES.md invariant #3)
+ materialization semantics."""

from collections import deque

import numpy as np
import pytest
from pyspark.sql import functions as F

from multivac_spark import session
from multivac_spark.operators import canon, materialize
from multivac_spark.sources import corpus, vocab

from .oracle_ref import cluster_oracle


@pytest.fixture(scope="module")
def emb_df(spark):
    return corpus.embeddings_df(spark)


def _pair_set(assign: dict[str, object]) -> set[tuple[str, str]]:
    from collections import defaultdict
    groups = defaultdict(list)
    for m, c in assign.items():
        groups[c].append(m)
    pairs = set()
    for members in groups.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.add((ms[i], ms[j]))
    return pairs


def _jaccard_vs_oracle(spark, emb_df, mentions):
    mdf = spark.createDataFrame([(m,) for m in mentions], "mention string")
    res = canon.cluster_entities(mdf, emb_df).collect()
    mine = {r["mention"]: r["label"] for r in res}

    vec_rows = canon.mention_embeddings(mdf, emb_df).collect()
    names = [r["mention"] for r in vec_rows]
    vectors = [list(r["vector"]) for r in vec_rows]
    oracle = cluster_oracle(names, vectors, threshold=0.2)

    mine_pairs = _pair_set({m: mine[m] for m in names})
    oracle_pairs = _pair_set(oracle)
    union = mine_pairs | oracle_pairs
    return (len(mine_pairs & oracle_pairs) / max(len(union), 1),
            len(mine_pairs), len(oracle_pairs))


def test_clusters_match_exact_oracle(spark, emb_df):
    """LSH blocking + per-block average linkage vs exact average-linkage
    agglomerative clustering: pairwise-cluster Jaccard ≥ 0.9."""
    concepts = vocab.effective_concepts()[:40]
    mentions = []
    for c in concepts:
        mentions.extend(vocab.effective_noun_variants()[c])
    jacc, nm, no = _jaccard_vs_oracle(spark, emb_df, mentions)
    print(f"jaccard={jacc:.4f} mine={nm} oracle={no}")
    assert jacc >= 0.9, jacc


def test_multiword_clusters_match_exact_oracle(spark, emb_df):
    """Multi-word mentions (averaged embeddings) are where single-linkage
    chaining used to diverge catastrophically (Jaccard 0.02); the
    per-block average-linkage kernel must track the oracle."""
    import numpy as np
    rng = np.random.RandomState(11)
    concepts = vocab.effective_concepts()[:25]
    adjs = vocab.effective_adjectives()[:15]
    mentions = set()
    for c in concepts:
        variants = vocab.effective_noun_variants()[c]
        mentions.add(variants[0])
        for _ in range(4):
            a = adjs[rng.randint(len(adjs))]
            c2 = concepts[rng.randint(len(concepts))]
            mentions.add(f"{a} {variants[rng.randint(len(variants))]}")
            mentions.add(f"{c2} {variants[0]}")
    mentions = sorted(mentions)[:250]
    jacc, nm, no = _jaccard_vs_oracle(spark, emb_df, mentions)
    print(f"multiword jaccard={jacc:.4f} mine={nm} oracle={no}")
    assert jacc >= 0.9, (jacc, nm, no)


def test_distributed_path_matches_driver_path(spark, emb_df, monkeypatch):
    """Both clustering paths must agree (same kernel, different plumbing).
    ``DRIVER_ROWS = 0`` sends the mentions and the similarity edges
    down the distributed routes."""
    concepts = vocab.effective_concepts()[:20]
    mentions = []
    for c in concepts:
        mentions.extend(vocab.effective_noun_variants()[c])
        mentions.append(f"viral {vocab.effective_noun_variants()[c][0]}")
    mdf = spark.createDataFrame([(m,) for m in mentions], "mention string")
    a = {(r["mention"], r["rep"]) for r in canon.cluster_entities(
        mdf, emb_df).collect()}
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    b = {(r["mention"], r["rep"]) for r in canon.cluster_entities(
        mdf, emb_df).collect()}
    assert a == b


def test_driver_path_computes_mentions_once(spark, emb_df):
    """The driver path sizes the mention dictionary and collects it in
    one pass: each mention row is computed once, not once for a count
    and again for the collect."""
    mentions = vocab.effective_noun_variants()["virus"] + ["lone mention"]
    computed = spark.sparkContext.accumulator(0)

    def keep(_):
        computed.add(1)
        return True

    mdf = (spark.createDataFrame([(m,) for m in mentions], "mention string")
           .filter(F.udf(keep, "boolean")("mention")))
    canon.cluster_entities(mdf, emb_df)
    assert computed.value == len(mentions)


def test_variant_groups_cluster_together(spark, emb_df):
    """Surface variants of the same concept must land in one cluster."""
    variants = vocab.effective_noun_variants()["virus"]
    mdf = spark.createDataFrame([(m,) for m in variants], "mention string")
    res = canon.cluster_entities(mdf, emb_df).collect()
    labels = {r["label"] for r in res}
    assert len(labels) == 1, res


def test_representative_rule():
    """The one rule both clustering routes apply to each cluster."""
    rows = canon.representative_rows([["bb", "aa"], ["dd", "c" * 100]])
    # first cluster: short concat → ' | ' join; second: >80 chars →
    # first member
    reps = dict(zip(rows["mention"], rows["rep"]))
    assert reps["aa"] == "aa | bb"
    assert reps["bb"] == "aa | bb"
    assert reps["dd"] == "c" * 100  # lexicographic min ('c...' < 'dd')


@pytest.mark.parametrize("driver_rows", [5_000_000, 0])
def test_connected_components_chain(spark, monkeypatch, driver_rows):
    """Both CC paths (the driver's numpy kernel ``canon._components`` and
    distributed min-label propagation, each a neighbor-min step then a
    pointer-doubling jump per round) must produce identical labels;
    ``DRIVER_ROWS = 0`` forces the distributed one. The 100-vertex
    chain needs the jump: one hop per round would take 99 rounds, over
    ``CC_MAX_ROUNDS``."""
    monkeypatch.setattr(session, "DRIVER_ROWS", driver_rows)
    v = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",),
                               ("z",)], "mention string")
    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")],
                              "src string, dst string")
    labels = {r["mention"]: r["label"]
              for r in canon.connected_components(v, e).collect()}
    assert labels["a"] == labels["b"] == labels["c"] == "a"
    assert labels["d"] == labels["e"] == "d"
    assert labels["z"] == "z"  # isolated vertex keeps its own label

    names = [f"v{i:03d}" for i in range(100)]
    v = spark.createDataFrame([(x,) for x in names], "mention string")
    # edges in both directions along the chain
    e = spark.createDataFrame(
        [(names[i], names[i + 1]) if i % 2 else (names[i + 1], names[i])
         for i in range(99)], "src string, dst string")
    labels = {r["mention"]: r["label"]
              for r in canon.connected_components(v, e).collect()}
    assert labels == {x: "v000" for x in names}


def _string_signatures(X):
    """The string formulation ``similarity_edges`` used before
    ``canon._signatures``: the oracle of the packed kernel."""
    planes = canon._seeded_planes(canon.N_PLANES, X.shape[1])
    rows_per_band = canon.N_PLANES // canon.BANDS
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    bits = (Xn @ planes.T > 0).astype(np.uint8)
    bkeys, signed = [], []
    for row in bits:
        s = "".join("1" if b else "0" for b in row)
        v = int(s, 2)
        signed.append(v - (1 << 64) if v >= (1 << 63) else v)
        bkeys.append(
            [f"{bi}:{s[bi * rows_per_band:(bi + 1) * rows_per_band]}"
             for bi in range(canon.BANDS)])
    return Xn, signed, bkeys


def test_signatures_match_the_string_formulation():
    """The packed signature equals the string formulation's integer, and
    the int64 band keys bucket the rows exactly as the string keys do,
    within each band and across bands."""
    X = np.random.default_rng(0).standard_normal((5000, canon.EMBED_DIM))
    Xn, sig, bkeys = canon._signatures(X)
    want_n, want_sig, want_keys = _string_signatures(X)
    assert np.array_equal(Xn, want_n)
    assert sig.dtype == np.int64 and sig.tolist() == want_sig
    assert bkeys.shape == (len(X), canon.BANDS)
    pairs = set(zip((k for row in want_keys for k in row),
                    bkeys.ravel().tolist()))
    # a bijection between the two key sets is the same bucketing
    assert len(pairs) == len({s for s, _ in pairs}) == \
        len({k for _, k in pairs})
    # keys of different bands never collide
    assert all(int(s.split(":")[0]) == k >> (canon.N_PLANES // canon.BANDS)
               for s, k in pairs)


def _bfs_min_labels(n, edges):
    adj = [[] for _ in range(n)]
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    label = [-1] * n
    for root in range(n):  # ascending, so each root is its component's min
        if label[root] < 0:
            label[root], todo = root, deque([root])
            while todo:
                for w in adj[todo.popleft()]:
                    if label[w] < 0:
                        label[w] = root
                        todo.append(w)
    return label


def test_component_kernel_matches_bfs():
    """``canon._components`` gives each vertex its component's smallest
    vertex, as a BFS does: seeded random graphs (isolated vertices,
    self-loops and repeated edges included), no vertices, no edges, and
    a 5,000-vertex chain."""
    rng = np.random.default_rng(7)
    graphs = [(0, []), (5, [])]
    for _ in range(200):
        n = int(rng.integers(1, 60))
        m = int(rng.integers(0, 2 * n))
        graphs.append((n, rng.integers(0, n, size=(m, 2)).tolist()))
    chain = rng.permutation(5000)
    graphs.append((5000, list(zip(chain[:-1], chain[1:]))))
    for n, edges in graphs:
        a = np.array([x for x, _ in edges], dtype=np.int64)
        b = np.array([y for _, y in edges], dtype=np.int64)
        assert canon._components(n, a, b).tolist() == \
            _bfs_min_labels(n, edges)


def test_distributed_cc_one_job_per_round(spark, monkeypatch):
    """VERDICT r2 #3: the convergence probe rides the localCheckpoint
    pass via observe() — ONE job per propagation round (plus bounded
    setup: the sizing collect, sym/labels checkpoints), down from
    3/round."""
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    # a 5-vertex path graph: diameter 4 → 5 propagation rounds (label
    # spreads 1 hop/round, +1 round to observe convergence)
    n = 5
    v = spark.createDataFrame([(f"v{i:02d}",) for i in range(n)],
                              "mention string")
    e = spark.createDataFrame([(f"v{i:02d}", f"v{i+1:02d}")
                               for i in range(n - 1)],
                              "src string, dst string")
    sc = spark.sparkContext
    # AQE splits one action into one job per materialized shuffle stage,
    # which hides the action count; disable it so 1 action = 1 job
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc-jobs", "count jobs per round")
    try:
        labels = {r["mention"]: r["label"]
                  for r in canon.connected_components(v, e).collect()}
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert all(lab == "v00" for lab in labels.values())
    # Budget: 5 rounds x 1 job + 3 setup (sizing collect, 2 checkpoints)
    # + 1 final collect = 9. The old probe-as-extra-job shape needs 14+.
    assert n_jobs <= 11, n_jobs
    t = spark.createDataFrame(
        [("a", "r1", "b"), ("a", "r1", "c"), ("a", "r2", "b"),
         ("b", "r1", "a"), ("c", "r3", "d")],
        "subj string, pred string, obj string")
    ents = materialize.top_entities(t, 3).collect()
    assert [r["mention"] for r in ents] == ["a", "b", "c"]
    rels = materialize.top_relations(t, 2).collect()
    assert [r["pred"] for r in rels] == ["r1", "r2"]

    tables = materialize.build_graph_tables(t)
    ids = {r["entity"]: r["entity_id"]
           for r in tables["entities"].collect()}
    assert ids == {"a": 0, "b": 1, "c": 2, "d": 3}
    edges = set(tuple(r) for r in tables["edges"].collect())
    assert (0, 1, 0) in edges  # a r1 b

    tc = {r["rel_id"]: (list(r["head_ids"]), list(r["tail_ids"]))
          for r in materialize.type_constraints(tables["edges"]).collect()}
    assert tc[0] == ([0, 1], [0, 1, 2])  # r1: heads {a,b}, tails {b,c,a}
