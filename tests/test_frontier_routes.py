"""analytics.frontier_reach's two routes, the walk under ``k_hop`` and
every SPARQL ``+`` / ``*`` / ``?`` path: the driver route (one
``session.driver_frame`` collect each of the edges and the start rows,
a per-root BFS, one local-relation result) must return exactly the
distributed loop's rows and types (forced with ``DRIVER_ROWS = 0``),
and both must equal the DuckDB twin or a Python BFS."""

import pytest
from pyspark.sql import functions as F

from multivac_spark import session
from multivac_spark.operators import analytics
from multivac_spark.operators import sparql as S

from .test_pagerank_khop import _bfs, _edges_df, _random_edges
from .test_sparql import TRIPLES, _twin

# the property-path fixture plus a 3-cycle on a predicate of its own
GRAPH = TRIPLES + [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a")]

PATH_QUERIES = [
    # the unbound closure
    'SELECT ?a ?b WHERE { ?a "contain"+ ?b }',
    # ground subject, ground object, both ground
    'SELECT ?x WHERE { "host" "contain"+ ?x }',
    'SELECT ?x WHERE { ?x "contain"+ "genome" }',
    ('SELECT ?s WHERE { "host" "contain"+ "genome" . '
     '"genome" "encode" ?s }'),
    # BGP-seeded forward and backward
    'SELECT ?s ?o WHERE { ?s "mutate" ?g . ?s "infect"+ ?o }',
    'SELECT ?s ?o WHERE { ?o "encode" ?p . ?s "contain"+ ?o }',
    'SELECT ?s ?g WHERE { ?s "infect" ?x . ?x "contain"+ ?g }',
    # * and ?: ground, unbound and seeded
    'SELECT ?b WHERE { "host" "contain"* ?b }',
    'SELECT ?a ?b WHERE { ?a "contain"* ?b }',
    'SELECT ?b WHERE { "ebola" "contain"? ?b }',
    'SELECT ?a ?b WHERE { ?a "contain"? ?b }',
    'SELECT ?s ?o WHERE { ?s "mutate" ?g . ?s "contain"* ?o }',
    'SELECT ?g ?o WHERE { ?g "encode" ?p . ?g "contain"? ?o }',
    # alternation and negated predicates under a modifier
    'SELECT ?o WHERE { "host" ("contain"|"encode")+ ?o }',
    'SELECT ?a ?b WHERE { ?a !("infect"|"mutate"|"r")+ ?b }',
    # a cycle, from a ground endpoint and unbound
    'SELECT ?x WHERE { "a" "r"+ ?x }',
    'SELECT ?a ?b WHERE { ?a "r"+ ?b }',
    # the off-graph * seed
    'SELECT ?b WHERE { "zzz" "contain"* ?b }',
]


@pytest.fixture(scope="module")
def graph(spark):
    df = spark.createDataFrame(
        GRAPH, "subj string, pred string, obj string").localCheckpoint()
    df.count()
    return df


def _sorted(rows):
    """None-safe ordering of rows of strings or numbers."""
    return sorted(map(tuple, rows),
                  key=lambda r: [(x is None, str(x)) for x in r])


def _routes(monkeypatch, run):
    """``run()`` on each route → {route: (rows, schema, distributed
    loops run)}; a spy counts the distributed loop's calls, so each
    route is known to be the one taken."""
    calls = []
    real = analytics._reach_distributed

    def spy(*args):
        calls.append(1)
        return real(*args)

    monkeypatch.setattr(analytics, "_reach_distributed", spy)
    out = {}
    for route, cap in (("driver", session.DRIVER_ROWS), ("distributed", 0)):
        with monkeypatch.context() as m:
            m.setattr(session, "DRIVER_ROWS", cap)
            del calls[:]
            df = run()
            out[route] = (_sorted(df.collect()),
                          df.schema, len(calls))
    return out


@pytest.mark.parametrize("query", PATH_QUERIES)
def test_path_routes_match_each_other_and_the_twin(graph, monkeypatch,
                                                   query):
    got = _routes(monkeypatch, lambda: S.sparql(graph, query))
    rows, schema, walks = got["driver"]
    assert walks == 0
    assert got["distributed"][:2] == (rows, schema)
    walked = any(p.path in ("+", "*") for p in S.parse(query).patterns)
    assert got["distributed"][2] == int(walked)
    assert rows == _sorted(_twin(GRAPH, query))


def test_path_routes_reach_a_null_object_once(spark, monkeypatch):
    """A triple with a null object is an edge to null: the walk reaches
    null from each root once, at its least hop count, and never
    expands it, although null joins nothing (the distributed loop's
    anti-join is null-safe)."""
    rows = [("a", "n", "b"), ("a", "n", None), ("b", "n", None),
            ("b", "n", "c")]
    kg = spark.createDataFrame(rows, "subj string, pred string, obj string")
    for query in ['SELECT ?a ?b WHERE { ?a "n"+ ?b }',
                  'SELECT ?x WHERE { "a" "n"+ ?x }']:
        got = _routes(monkeypatch, lambda: S.sparql(kg, query))
        assert got["distributed"][:2] == got["driver"][:2]
        assert got["driver"][0] == _sorted(_twin(rows, query)), query


K_HOP_CASES = [
    # (edges, seed values, k, seed type)
    (_random_edges(21, n_nodes=30, n_edges=70), [0, 3], 3, "long"),
    (_random_edges(21, n_nodes=30, n_edges=70), [99], 2, "long"),  # absent
    ([(i, i + 1) for i in range(5)], [0], 9, "long"),   # k past the end
    ([(i, i + 1) for i in range(5)], [2, None], 2, "long"),  # null seed
    ([(i, i + 1) for i in range(5)], [], 2, "long"),    # empty seeds
    ([(i, i + 1) for i in range(5)], [1], 2, "int"),    # widened to long
]


@pytest.mark.parametrize("direction", ["out", "in", "both"])
@pytest.mark.parametrize("case", range(len(K_HOP_CASES)))
def test_k_hop_routes_match_each_other_and_bfs(spark, monkeypatch,
                                               direction, case):
    edges, seed_values, k, seed_type = K_HOP_CASES[case]
    df = _edges_df(spark, edges)
    seeds = spark.createDataFrame([(x,) for x in seed_values],
                                  f"node {seed_type}")
    got = _routes(monkeypatch,
                  lambda: analytics.k_hop(df, seeds, k, direction))
    rows, schema, walks = got["driver"]
    assert walks == 0 and got["distributed"][2] == 1
    assert got["distributed"][:2] == (rows, schema)
    assert schema.simpleString() == "struct<node:bigint,hops:int>"
    assert set(rows) == set(_bfs(edges, seed_values, k, direction).items())


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_route_job_pins(spark, graph):
    """k_hop from a JVM-side seed frame and a ground ``+`` path each
    run 2 jobs, the two sizing collects, and reading the result runs
    none (the distributed walks ran 19 and 11 jobs for the same
    shapes on the served KG)."""
    ring = _edges_df(spark, [(i, (i + 1) % 50) for i in range(50)]
                     + [(i, (3 * i + 7) % 50) for i in range(50)])
    seeds = spark.range(1).select(F.lit(3).cast("long").alias("node"))
    for name, build in [
        ("k_hop", lambda: analytics.k_hop(ring, seeds, 2)),
        ("ground+", lambda: S.sparql(
            graph, 'SELECT ?x WHERE { "host" "contain"+ ?x }')),
    ]:
        df, built = _jobs(spark, f"frontier-pins/{name}", build)
        rows, read = _jobs(spark, f"frontier-pins/{name}/collect",
                           df.collect)
        assert rows and (built, read) == (2, 0), (name, built, read)


def test_walk_past_the_cap_falls_back_to_the_distributed_rows(
        spark, graph, monkeypatch):
    """``DRIVER_ROWS`` caps the output too: with the edges and the
    start rows under it but the reached pairs over it, the walk gives
    the driver route up and returns the distributed loop's rows."""
    chain = _edges_df(spark, [(i, i + 1) for i in range(30)])
    seeds = spark.createDataFrame([(0,)], "node long")
    q = 'SELECT ?a ?b WHERE { ?a "contain"* ?b }'
    cases = [
        # 30 edges, 1 seed, 31 reached pairs
        (30, lambda: analytics.k_hop(chain, seeds, 30, "out"),
         {(i, i) for i in range(31)}),
        # 3 edges, 3 start rows, 4 closure pairs
        (3, lambda: S.sparql(graph, q), set(_twin(GRAPH, q))),
    ]
    real = analytics._reach_distributed
    for cap, run, want in cases:
        calls = []
        with monkeypatch.context() as m:
            m.setattr(analytics, "_reach_distributed",
                      lambda *a: calls.append(1) or real(*a))
            m.setattr(session, "DRIVER_ROWS", cap)
            got = set(map(tuple, run().collect()))
        assert calls == [1] and got == want
