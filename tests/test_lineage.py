"""plans.lineage fast path against its Spark oracles: footer row counts
vs ``count()``, the recorded schema vs schema inference, and no Spark
job for a completeness check or a resumed read."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from multivac_spark.plans import lineage, snapshots

# plain and directory-partitioned; the partition column sits mid-schema
# so the re-read must move it last as inference does
LAYOUTS = {"plain": None, "partitioned": "rel_bucket"}


def _data(d, stage):
    """The data directory of the stage's current version."""
    [entry] = snapshots.history(os.path.join(d, stage))
    return os.path.join(d, stage, entry["dir"], "data")


@pytest.fixture(scope="module")
def committed(spark):
    df = (spark.range(1000).withColumnRenamed("id", "k")
          .withColumn("rel_bucket", F.pmod(F.hash("k"), F.lit(16)))
          .withColumn("toks", F.array(F.col("k"), F.lit(None).cast("long")))
          .withColumn("st", F.struct(F.col("k").alias("a"),
                                     F.lit("x").alias("b")))
          .withColumn("m", F.create_map(F.lit("a"), F.col("k")))
          .repartition(3))
    with tempfile.TemporaryDirectory() as d:
        back = {stage: lineage.run_or_resume(spark, d, "r", stage,
                                             lambda: df, partition_by=pb)
                for stage, pb in LAYOUTS.items()}
        yield d, back


@pytest.mark.parametrize("stage", LAYOUTS)
def test_footer_rows_match_spark_count(spark, committed, stage):
    d, _ = committed
    rows = snapshots.footer_rows(_data(d, stage))
    assert len(rows) > 1
    assert sum(rows.values()) == spark.read.parquet(_data(d, stage)).count()


@pytest.mark.parametrize("stage", LAYOUTS)
def test_pinned_schema_matches_inference(spark, committed, stage):
    d, back = committed
    inferred = spark.read.parquet(_data(d, stage)).schema
    assert back[stage].schema == inferred
    resumed = lineage.run_or_resume(spark, d, "r", stage,
                                    lambda: pytest.fail("recomputed"),
                                    partition_by=LAYOUTS[stage])
    assert resumed.schema == inferred
    assert (sorted(resumed.collect())
            == sorted(spark.read.parquet(_data(d, stage)).collect()))


@pytest.mark.parametrize("stage", LAYOUTS)
def test_resume_runs_no_spark_job(spark, committed, stage):
    d, _ = committed
    sc = spark.sparkContext
    group = f"lineage-resume-{stage}"
    sc.setJobGroup(group, "stage_complete + resumed read")
    try:
        assert lineage.stage_complete(spark, d, "r", stage)
        lineage.run_or_resume(spark, d, "r", stage,
                              lambda: pytest.fail("recomputed"),
                              partition_by=LAYOUTS[stage])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_inconsistent_entry_is_not_complete(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as d:
        lineage.run_or_resume(spark, d, "r", "stg", lambda: df)
        path = os.path.join(d, "stg", "_SNAPSHOTS.json")
        with open(path) as f:
            good = json.load(f)
        assert lineage.stage_complete(spark, d, "r", "stg")
        assert not lineage.stage_complete(spark, d, "other_run", "stg")

        def put(manifest):
            with open(path, "w") as f:
                json.dump(manifest, f)

        # part rows that do not sum to the marker total
        bad = json.loads(json.dumps(good))
        bad["snapshots"][0]["rows"] += 1
        put(bad)
        assert not lineage.stage_complete(spark, d, "r", "stg")

        # no _SUCCESS: the write never finished
        put(good)
        os.remove(os.path.join(_data(d, "stg"), "_SUCCESS"))
        assert not lineage.stage_complete(spark, d, "r", "stg")
