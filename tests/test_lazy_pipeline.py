"""run_pipeline laziness contract (VERDICT r1 #1): constructing the
tables mapping schedules ZERO Spark jobs; extraction-side tables stay
pure-lazy; clustering runs only on first access to a dependent table.
Plus the 50k-mention plan-size stress (VERDICT r1 #5)."""

import numpy as np

from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline
from multivac_spark.sources import corpus


def _jobs_in_group(spark, group):
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_run_pipeline_builds_no_jobs(spark):
    docs = corpus.documents_df(spark, 40, partitions=2)
    emb = corpus.embeddings_df(spark)
    sc = spark.sparkContext
    sc.setJobGroup("lazy-build", "pipeline build must schedule nothing")
    try:
        tables = run_pipeline(spark, docs, emb,
                              PipelineConfig(top_n_ent=500, top_n_rel=20))
        assert _jobs_in_group(spark, "lazy-build") == []
        # touching extraction-side tables still schedules nothing
        for k in ("triples", "unique_entities", "unique_relations"):
            _ = tables[k]
        assert _jobs_in_group(spark, "lazy-build") == []
    finally:
        sc.setJobGroup("lazy-probe", "post-build")
    # clustering-dependent access materializes and is correct
    assert tables["final_triples"].count() > 0
    assert len(_jobs_in_group(spark, "lazy-probe")) > 0
    sc.setLocalProperty("spark.jobGroup.id", None)


def test_same_table_object_on_repeat_access(spark):
    docs = corpus.documents_df(spark, 20, partitions=2)
    emb = corpus.embeddings_df(spark)
    tables = run_pipeline(spark, docs, emb,
                          PipelineConfig(top_n_ent=200, top_n_rel=20))
    assert tables["entity_clusters"] is tables["entity_clusters"]
    assert set(tables) >= {"triples", "final_triples", "edges"}
    assert len(tables) == 9


def test_driver_cluster_path_50k_mentions_no_plan_blowup(spark):
    """~50k distinct mentions through the driver fast path: the needed-
    token bound must go through a broadcast semi-join (no 50k-literal
    isin), and the kernel must return a full labeling."""
    from multivac_spark.operators import canon

    emb = corpus.embeddings_df(spark)
    toks = [r["token"] for r in emb.select("token").collect()]
    rng = np.random.RandomState(7)
    mentions = {" ".join(rng.choice(toks, size=rng.randint(1, 4)))
                for _ in range(60_000)}
    mdf = spark.createDataFrame([(m,) for m in mentions], "mention string")
    out = canon.cluster_entities(mdf, emb)
    n = out.count()
    assert n == len(mentions)  # every mention labeled (all tokens in-vocab)
    assert out.select("label").distinct().count() < n
