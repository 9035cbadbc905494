"""stats_barrier: the lineage/statistics cut for iterative self-join
loops (session.stats_barrier).

Catalyst's size-only estimator multiplies children's sizeInBytes at
every join, and localCheckpoint carries origin statistics forward
(SPARK-39748), so a pointer-doubling loop's stat BigInt roughly
squares per round — measured 54 → 10,249 bits in 8 rounds WITH a
per-round localCheckpoint, which eventually serializes the driver in
BigInteger multiplications. These tests pin (a) value fidelity through
the barrier, (b) bounded statistics across self-join rounds,
(c) that the CC/eigenvector loops stay on bounded statistics, and
(d) the loop rule: each round of a distributed graph loop is one
observed barrier, so its Spark jobs per round are constant.
"""

import pytest
from pyspark.sql import functions as F

from multivac_spark.session import stats_barrier


def _stat_bits(df) -> int:
    """bit length of the optimized plan's sizeInBytes estimate."""
    jstat = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(jstat).bit_length()


def test_barrier_preserves_rows_and_schema(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    b = stats_barrier(df)
    assert b.schema == df.schema
    assert b.count() == 100
    assert b.agg(F.sum("v")).collect()[0][0] == 3 * sum(range(100))


def test_barrier_bounds_stats_across_self_join_rounds(spark):
    labels = spark.range(200).select(
        F.col("id").alias("k"), F.col("id").alias("label"))
    sym = stats_barrier(
        spark.range(600).select(
            (F.col("id") % 200).alias("src"),
            ((F.col("id") * 7) % 200).alias("dst")))
    labels = stats_barrier(labels)
    base_bits = _stat_bits(labels)
    for _ in range(6):
        nbr = (sym.join(labels, sym.dst == labels.k)
               .groupBy("src").agg(F.min("label").alias("nl")))
        stepped = (labels.join(nbr, labels.k == nbr.src, "left")
                   .select(labels.k,
                           F.least("label", F.coalesce("nl", "label"))
                           .alias("label")))
        jump = stepped.select(F.col("k").alias("_jk"),
                              F.col("label").alias("_jl"))
        labels = stats_barrier(
            stepped.join(jump, stepped.label == jump._jk, "left")
            .select("k", F.least("label", F.coalesce("_jl", "label"))
                    .alias("label")))
        # un-barrier'd, bits would roughly quadruple per round (two
        # self-joins); barrier'd they must stay at the flat default
        assert _stat_bits(labels) <= base_bits, _stat_bits(labels)
    assert labels.count() == 200


def test_localcheckpoint_alone_does_not_bound_stats(spark):
    """Documents WHY the barrier exists: plain localCheckpoint carries
    origin statistics, so the same loop grows without bound. If a
    future Spark version stops propagating origin stats this test
    starts failing — then stats_barrier can be simplified away."""
    labels = spark.range(50).select(
        F.col("id").alias("k"), F.col("id").alias("label")).localCheckpoint()
    sym = spark.range(150).select(
        (F.col("id") % 50).alias("src"),
        ((F.col("id") * 7) % 50).alias("dst")).localCheckpoint()
    start_bits = _stat_bits(labels)
    for _ in range(4):
        nbr = (sym.join(labels, sym.dst == labels.k)
               .groupBy("src").agg(F.min("label").alias("nl")))
        stepped = (labels.join(nbr, labels.k == nbr.src, "left")
                   .select(labels.k,
                           F.least("label", F.coalesce("nl", "label"))
                           .alias("label")))
        jump = stepped.select(F.col("k").alias("_jk"),
                              F.col("label").alias("_jl"))
        labels = (stepped.join(jump, stepped.label == jump._jk, "left")
                  .select("k", F.least("label", F.coalesce("_jl", "label"))
                          .alias("label"))
                  .localCheckpoint())
    assert _stat_bits(labels) > 4 * start_bits, (
        "localCheckpoint no longer carries origin stats — "
        "stats_barrier may be droppable")


def test_barrier_javardd_fallback_route(spark, monkeypatch):
    """If the package-private internalCreateDataFrame ever becomes
    py4j-invisible, the createDataFrame(JavaRDD[Row], schema) fallback
    must produce the same frame with the same bounded stats."""
    df = spark.range(50).select(F.col("id").alias("k"),
                                (F.col("id") * 7).alias("v"))
    jspark = spark._jsparkSession

    class _NoInternal:
        def internalCreateDataFrame(self, *a, **kw):
            raise AttributeError("gone")

        def __getattr__(self, name):
            return getattr(jspark, name)

    monkeypatch.setattr(spark, "_jsparkSession", _NoInternal(),
                        raising=False)
    b = stats_barrier(df)
    assert b.count() == 50
    assert b.agg(F.sum("v")).collect()[0][0] == 7 * sum(range(50))
    assert _stat_bits(b) <= 80


def test_cc_distributed_path_stats_stay_bounded(spark, monkeypatch):
    """connected_components' distributed route must come out with flat
    statistics (it feeds canonicalize → graph build → eigenvector)."""
    from multivac_spark import session
    from multivac_spark.operators import canon

    monkeypatch.setattr(session, "DRIVER_ROWS", 0)

    verts = spark.createDataFrame(
        [(f"m{i}",) for i in range(40)], "mention string")
    edges = spark.createDataFrame(
        [(f"m{i}", f"m{i + 1}") for i in range(0, 38, 2)],
        "src string, dst string")
    labels = canon.connected_components(verts, edges)
    assert _stat_bits(labels) <= 80, _stat_bits(labels)
    got = {r["mention"]: r["label"] for r in labels.collect()}
    assert got["m1"] == "m0" and got["m3"] == "m2"


def test_eigenvector_distributed_stats_stay_bounded(spark, monkeypatch):
    from multivac_spark import session
    from multivac_spark.operators import analytics

    monkeypatch.setattr(session, "DRIVER_ROWS", 0)

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)],
        "head_id long, tail_id long")
    ev = analytics.eigenvector_centrality(edges)
    # the result is a projection of the last round's barrier: the same
    # flat bound as connected_components
    assert _stat_bits(ev) <= 80, _stat_bits(ev)
    rows = ev.collect()
    assert len(rows) == 12
    # ring graph: uniform centrality 1/sqrt(12)
    for r in rows:
        assert r["score"] == pytest.approx(12 ** -0.5, abs=1e-3)


@pytest.mark.parametrize("loop", ["eigenvector", "pagerank", "k_hop"])
def test_distributed_loop_jobs_per_round(spark, monkeypatch, loop):
    """Each round is one observed ``stats_barrier`` and nothing else:
    with AQE off, a fixed set-up plus exactly one job per round; with
    AQE on, a fixed number per round (one per shuffle stage of the
    round's plan), so 6 rounds cost exactly 3 rounds' jobs more than 3
    rounds. Before the rule, rounds past the last barrier re-ran its
    shuffles: 9, 12, 14, 16 jobs for eigenvector rounds 1-4.

    On a 29-edge path every loop runs its full budget: the power
    iteration oscillates on a bipartite graph (3 tolerance attempts x
    ``max_iter`` rounds), PageRank's ``tol=0`` never stops it, and
    each k-hop round reaches one new node. ``DRIVER_ROWS = 0`` forces
    each operator's distributed loop (k_hop's is
    ``analytics.frontier_reach``'s). Every set-up counts the operator's
    one ``driver_frame`` sizing collect: k_hop's 3 are that collect and
    the adjacency and seed barriers, PageRank's are that collect and
    two barriers."""
    from multivac_spark import session
    from multivac_spark.operators import analytics

    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    path = spark.createDataFrame([(i, i + 1) for i in range(29)],
                                 "head_id long, tail_id long")
    seeds = spark.createDataFrame([(0,)], "node long")
    run, per_unit, setup = {
        "eigenvector": (lambda r: analytics.eigenvector_centrality(
            path, max_iter=r, tol=1e-300), 3, 3),
        "pagerank": (lambda r: analytics.pagerank(
            path, max_iter=r, tol=0.0), 1, 3),
        "k_hop": (lambda r: analytics.k_hop(path, seeds, r), 1, 3),
    }[loop]
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    jobs = {}
    try:
        for mode in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.enabled", mode)
            for rounds in (0, 3, 6):
                group = f"loop-jobs/{loop}/{mode}/{rounds}"
                sc.setJobGroup(group, group)
                run(rounds // per_unit)
                jobs[mode, rounds] = len(
                    sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert [jobs["false", r] for r in (0, 3, 6)] == [
        setup, setup + 3, setup + 6], jobs
    per_3 = jobs["true", 3] - jobs["true", 0]
    assert per_3 >= 3 and jobs["true", 6] - jobs["true", 3] == per_3, jobs
