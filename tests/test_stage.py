"""session.stage, the one staging rule: a local checkpoint by default,
a reliable one under the deployment's checkpoint directory when the
stage is eager. Plus its two users with a contract of their own: the
lazy ``run_pipeline`` stages its seven ``STAGES`` tables (one
extraction pass per document for any set of reads, with or without a
checkpoint directory), and ``textops.train_bigram_lm`` stages its two
aggregations from pool threads under the caller's job group."""

import os
import tempfile

import pytest

from multivac_spark import session
from multivac_spark.functions import fused
from multivac_spark.operators import analytics, textops
from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline
from multivac_spark.session import stage, stats_barrier
from multivac_spark.sources import corpus


def _checkpoint_file(df):
    """The reliable checkpoint path of a staged frame's RDD, or None."""
    opt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
    return opt.get() if opt.isDefined() else None


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _jobs(spark, group):
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def checkpoint_dir(spark):
    """A checkpoint directory set on the shared context for one test,
    unset again afterwards."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    with tempfile.TemporaryDirectory() as d:
        sc.setCheckpointDir(d)
        try:
            yield d
        finally:
            sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


def test_stage_is_reliable_under_a_checkpoint_dir(spark, checkpoint_dir):
    df = spark.range(200).selectExpr("id", "id % 7 AS k")
    staged = stage(df.groupBy("k").count())
    path = _checkpoint_file(staged)
    assert path is not None and checkpoint_dir in path
    parts = [f for _, _, fs in os.walk(checkpoint_dir) for f in fs
             if f.startswith("part-")]
    assert parts
    assert _rows(staged) == _rows(df.groupBy("k").count())
    # the barrier's rebuild reads the reliable checkpoint just the same
    assert _rows(stats_barrier(df)) == _rows(df)


def test_distributed_loops_match_the_driver_route_under_a_checkpoint_dir(
        spark, monkeypatch, checkpoint_dir):
    """Each round of a distributed graph loop reads its stop test from
    an observation on its ``stats_barrier``; under a checkpoint
    directory that barrier is the reliable ``checkpoint()``, and the
    observations fire there once per round all the same: forced
    distributed, eigenvector and PageRank return the driver route's
    scores (their norm and dangling mass are observed each round, so a
    wrong observation would move every later score), and a k-hop walk
    past the end of a chain stops on its first empty round with the
    BFS answer."""
    edges = spark.createDataFrame(
        [(i, (i + 1) % 15) for i in range(15)]
        + [(i, (4 * i + 3) % 15) for i in range(0, 15, 2)],
        "head_id long, tail_id long")

    def scores():
        return [dict(map(tuple, op.collect())) for op in (
            analytics.eigenvector_centrality(edges, max_iter=2),
            analytics.pagerank(edges, max_iter=6))]

    driver = scores()
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    for (want, got), tol in zip(zip(driver, scores()), (1e-12, 1e-9)):
        assert set(got) == set(want)
        assert max(abs(got[k] - want[k]) for k in want) < tol
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "head_id long, tail_id long")
    seeds = spark.createDataFrame([(0,)], "node long")
    assert _rows(analytics.k_hop(chain, seeds, 20, "out")) == [
        (i, i) for i in range(6)]


def test_stage_is_local_without_a_checkpoint_dir(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(50).selectExpr("id", "id * 2 AS v")
    staged = stage(df)
    assert _checkpoint_file(staged) is None
    assert _rows(staged) == _rows(df)


def test_lazy_stage_of_a_plan_without_shuffle_runs_no_job(spark):
    sc = spark.sparkContext
    df = spark.range(50).selectExpr("id", "id * 2 AS v").filter("v > 10")
    sc.setJobGroup("lazy-stage", "stage(eager=False) schedules nothing")
    try:
        staged = stage(df, eager=False)
        assert _jobs(spark, "lazy-stage") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert staged.count() == 44


@pytest.mark.parametrize("where", ["no_checkpoint_dir", "checkpoint_dir"])
def test_lazy_build_extracts_each_document_once(spark, monkeypatch, request,
                                                where):
    """Reading any set of tables passes every English document through
    the extraction kernel once: the accumulator taps the kernel's input
    after its language filter. Under a checkpoint directory too: a lazy
    stage stays local, since a lazy reliable checkpoint would run the
    plan again to write itself."""
    if where == "checkpoint_dir":
        request.getfixturevalue("checkpoint_dir")
    docs = corpus.documents_df(spark, 40, partitions=2)
    n_en = docs.filter("lang = 'en'").count()
    passes = spark.sparkContext.accumulator(0)
    real = fused.fused_extract_stage

    def tapped(documents, lexicon, lemmas, lang_filter="en", **kw):
        def tap(batches):
            for b in batches:
                passes.add(b.num_rows)
                yield b

        src = (documents.filter(documents.lang == lang_filter)
               if lang_filter else documents)
        return real(src.mapInArrow(tap, src.schema), lexicon, lemmas,
                    lang_filter, **kw)

    monkeypatch.setattr(fused, "fused_extract_stage", tapped)
    tables = run_pipeline(spark, docs, corpus.embeddings_df(spark),
                          PipelineConfig(top_n_ent=500, top_n_rel=20))
    for name in ("triples", "final_triples", "edges", "type_constraints"):
        assert tables[name].count() > 0
    assert passes.value == n_en > 0


def test_train_bigram_lm_stages_in_the_callers_job_group(spark):
    """Both aggregations run from pool threads; their jobs belong to
    the caller's job group, so no job of the call is left ungrouped."""
    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "c a b")],
        "doc_id long, text string")
    ungrouped = set(_jobs(spark, None))
    sc.setJobGroup("lm-train", "train_bigram_lm")
    try:
        lm = textops.train_bigram_lm(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert lm["vocab_n"] == 3
    assert set(_jobs(spark, None)) == ungrouped
    assert len(_jobs(spark, "lm-train")) >= 3
