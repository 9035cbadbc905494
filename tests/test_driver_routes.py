"""session.driver_frame, the one driver-route rule, and the four
operators that call it: one bounded Arrow collect sizes the input and,
when it fits, is all the driver kernel reads. The job counts are read
by job group and include the caller's result collect."""

import pytest

from multivac_spark import session
from multivac_spark.operators import analytics, canon

# the entry's ring+chords graph (`eigenvector_centrality`, `pagerank`)
RING_CHORDS = ([(i, (i + 1) % 50) for i in range(50)]
               + [(i, (3 * i + 7) % 50) for i in range(50)])


def _edges(spark, rows):
    return spark.createDataFrame(rows, "head_id long, tail_id long")


def _chain(spark):
    """test_connected_components_chain's 6-vertex chain."""
    v = spark.createDataFrame([(x,) for x in "abcdez"], "mention string")
    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")],
                              "src string, dst string")
    return v, e


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_frame_sizes_at_the_cap(spark, monkeypatch):
    df = spark.range(5).selectExpr("id AS x")
    monkeypatch.setattr(session, "DRIVER_ROWS", 5)
    assert session.driver_frame(df)["x"].tolist() == [0, 1, 2, 3, 4]
    monkeypatch.setattr(session, "DRIVER_ROWS", 4)
    assert session.driver_frame(df) is None
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    assert session.driver_frame(df.filter("x < 0")).empty


def test_driver_frame_keeps_the_input_order(spark):
    df = spark.range(40).selectExpr("id AS x").orderBy("x", ascending=False)
    assert session.driver_frame(df)["x"].tolist() == list(range(39, -1, -1))


@pytest.mark.parametrize("route,jobs", [
    ("eigenvector", 2),
    ("pagerank", 2),
    ("connected_components", 3),
])
def test_driver_route_jobs(spark, route, jobs):
    """The sizing collect is the kernel's input: no count or stage runs
    before the choice (counting, staging and re-collecting first ran 9,
    11 and 5 jobs)."""
    e = _edges(spark, RING_CHORDS)
    v, ce = _chain(spark)
    run = {
        "eigenvector": lambda: analytics.eigenvector_centrality(
            e, max_iter=15).collect(),
        "pagerank": lambda: analytics.pagerank(e).collect(),
        "connected_components": lambda: canon.connected_components(
            v, ce).collect(),
    }[route]
    rows, n = _jobs(spark, f"driver-route/{route}", run)
    assert len(rows) == (6 if route == "connected_components" else 50)
    assert n == jobs, n


def test_empty_edges_keep_their_schema(spark):
    """An empty edge table takes each driver route: the scores keep a
    bigint node and a non-null double score, and every CC vertex keeps
    its own label."""
    empty = _edges(spark, RING_CHORDS).filter("head_id < 0")
    scores = "struct<node:bigint,score:double>"
    for out in (analytics.eigenvector_centrality(empty),
                analytics.pagerank(empty)):
        assert out.schema.simpleString() == scores
        assert [f.nullable for f in out.schema] == [True, False]
        assert out.collect() == []
    v, ce = _chain(spark)
    labels = canon.connected_components(v, ce.filter("src = 'q'"))
    assert labels.schema.simpleString() == \
        "struct<mention:string,label:string>"
    assert {(r["mention"], r["label"]) for r in labels.collect()} == \
        {(x, x) for x in "abcdez"}
