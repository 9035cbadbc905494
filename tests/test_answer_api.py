"""HTTP answer service (plans/answer_api.py) vs the reference Flask
app (app.py:12-49): same routes and parameter names, answers computed
by the real query-mapping path, exercised over an in-process HTTP
round trip (the grobid-stub pattern). The driver route
(``query.DriverKG``) is checked against its oracle, the Spark
``answer_queries``."""
import json
import math
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest

from multivac_spark import session
from multivac_spark.operators import query as Q
from multivac_spark.plans.answer_api import AnswerService, serve
from multivac_spark.plans.pipeline import default_lexicons
from multivac_spark.sources import corpus


@pytest.fixture(scope="module")
def service(spark):
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline

    docs = corpus.documents_df(spark, 80, partitions=4)
    emb = corpus.embeddings_df(spark)
    tables = run_pipeline(spark, docs, emb,
                          PipelineConfig(top_n_ent=3000, top_n_rel=50))
    svc = AnswerService(spark, tables["final_triples"], emb,
                        *default_lexicons())
    assert svc.kg is not None   # the default cap holds the 80-page KG
    srv, port = serve(svc)
    yield svc, port
    srv.shutdown()


def _get(port, path):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}")
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, r.headers.get("Content-Type"), r.read()


def test_form_route(service):
    _, port = service
    status, ctype, body = _get(port, "/")
    assert status == 200 and ctype.startswith("text/html")
    assert b"search-input" in body


def _question(svc):
    # built from a real triple so an exact answer exists
    row = svc.triples.limit(1).collect()[0]
    return f"the {row['subj'].split(' | ')[0]} {row['pred']} what"


def _answer_keys(answers):
    return {(a["query_id"], a["head"], a["rel"], a["answer"], a["slot"])
            for a in answers}


def test_results_answers_match_direct_path(spark, service):
    svc, port = service
    question = _question(svc)
    qs = urllib.parse.urlencode({
        "search-input": question, "model-type-input": "blend",
        "threshold-input": "0.75", "num-top-input": "10"})
    status, ctype, body = _get(port, f"/results?{qs}")
    assert status == 200 and ctype == "application/json"
    payload = json.loads(body)
    assert payload["args"]["search"] == question
    got = _answer_keys(payload["answers"])
    # direct path on the same state
    want = _answer_keys(svc.answer(question))
    assert got == want and got


def test_vectors_built_once_per_service(spark, service, monkeypatch):
    """``kg_vectors`` runs once per service, at construction, on both
    routes: the driver route reads the collected copy, the Spark route
    (forced by ``DRIVER_ROWS = 0``) the staged frames."""
    svc, _ = service
    calls = []
    real = Q.kg_vectors

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(Q, "kg_vectors", counting)
    question = _question(svc)
    want = _answer_keys(svc.answer(question))
    for cap in (session.DRIVER_ROWS, 0):
        monkeypatch.setattr(session, "DRIVER_ROWS", cap)
        calls.clear()
        fresh = AnswerService(spark, svc.triples, svc.embeddings,
                              svc.lexicon, svc.lemmas)
        assert (fresh.kg is None) == (cap == 0)
        assert len(calls) == 1
        first = fresh.answer(question)
        second = fresh.answer(question)
        assert len(calls) == 1
        assert _answer_keys(first) == _answer_keys(second) == want


def _jobs(spark, group, fn):
    """``fn()`` and the Spark jobs it submitted from this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _questions(svc):
    """24 questions built from real triples: 16 "the <subj> <pred>
    what" (answered forward) and 8 "what <pred> the <obj>" (backward)."""
    rows = sorted(map(tuple, svc.triples.collect()))
    picks = rows[::max(1, len(rows) // 24)][:24]
    return ([f"the {s.split(' | ')[0]} {p} what" for s, p, _ in picks[:16]]
            + [f"what {p} the {o.split(' | ')[0]}" for _, p, o in picks[16:]])


def _oracle(spark, svc, questions, threshold=Q.MATCH_THRESHOLD):
    """{cleaned question: answer keys} of the batch ``answer_queries``."""
    cleaned = [Q.clean_query(q) for q in questions]
    qdf = spark.createDataFrame(list(enumerate(cleaned)),
                                "query_id long, query string")
    got = Q.answer_queries(
        Q.extract_query_parts(qdf, svc.lexicon, svc.lemmas), svc.triples,
        svc.embeddings, threshold=threshold, vectors=svc.vectors).collect()
    out = {q: set() for q in cleaned}
    for r in got:
        out[r["query"]].add((r["head"], r["rel"], r["answer"], r["slot"]))
    return out


def _keys(answers):
    return {(a["head"], a["rel"], a["answer"], a["slot"]) for a in answers}


def test_driver_route_matches_answer_queries(spark, service):
    """Generated questions: the driver route's answer sets equal the
    batch ``answer_queries``' (``num_top`` above every answer count)."""
    svc, _ = service
    questions = _questions(svc)
    want = _oracle(spark, svc, questions)
    answered = 0
    for q in questions:
        got = svc.answer(q, num_top=10_000)
        assert all(a["query"] == Q.clean_query(q) and a["query_id"] == 0
                   for a in got)
        assert _keys(got) == want[Q.clean_query(q)], q
        answered += bool(got)
    assert answered >= len(questions) // 2, answered


def test_driver_route_keeps_match_at_exact_threshold(spark, service):
    """At a threshold equal to a part's Spark ``match_parts`` cosine the
    driver match is kept, and one ulp above it is dropped, for every
    part of the generated questions: the driver cosine is Spark's, bit
    for bit. One question's answers are then compared end to end at
    both thresholds."""
    svc, _ = service
    questions = _questions(svc)
    qdf = spark.createDataFrame(
        [(i, Q.clean_query(q)) for i, q in enumerate(questions)],
        "query_id long, query string")
    parts = Q.extract_query_parts(qdf, svc.lexicon, svc.lemmas)
    entity_vecs, rel_vecs = svc.vectors
    best = {}
    for col, vecs, which in (("q_subj", entity_vecs, svc.kg.entities),
                             ("q_obj", entity_vecs, svc.kg.entities),
                             ("q_pred", rel_vecs, svc.kg.relations)):
        for r in Q.match_parts(parts, svc.embeddings, vecs, col,
                               threshold=-1.0).collect():
            part, t = r["part"], r["sim"]
            assert svc.kg.match(part, which, t) == r["entity"], (col, part)
            assert svc.kg.match(part, which, math.nextafter(t, 2.0)) is None
            best[col, part] = t
    assert len(best) >= len(questions)
    for q in questions:
        s, p, _ = Q.longest_triple(Q.clean_query(q), svc.lexicon, svc.lemmas)
        t = min(best["q_subj", s], best["q_pred", p])
        at = svc.answer(q, threshold=t, num_top=10_000)
        if any(a["slot"] == "tail" for a in at):
            break
    else:
        pytest.fail("no generated question has a forward answer")
    above = svc.answer(q, threshold=math.nextafter(t, 2.0), num_top=10_000)
    assert _keys(at) != _keys(above)
    for threshold, got in ((t, at), (math.nextafter(t, 2.0), above)):
        assert _keys(got) == _oracle(spark, svc, [q], threshold)[
            Q.clean_query(q)]


def test_driver_route_argmax_tie_takes_smallest_name(spark):
    """"virus" and "virus virus" have identical mean vectors, so every
    part ties them at the argmax; both routes take the smallest name,
    as ``match_parts``' window does, even for the part "virus virus"."""
    kg = spark.createDataFrame(
        [("virus", "bind", "protein"), ("virus virus", "bind", "antibody"),
         ("agent", "absorb", "virus")], "subj string, pred string, obj string")
    svc = AnswerService(spark, kg, corpus.embeddings_df(spark),
                        *default_lexicons())
    assert svc.kg is not None
    questions = ["the virus bind what", "the virus virus bind what"]
    want = _oracle(spark, svc, questions)
    for q in questions:
        got = _keys(svc.answer(q))
        assert got == want[Q.clean_query(q)] \
            == {("virus", "bind", "protein", "tail")}, q


def test_driver_answer_runs_no_spark_job(spark, service):
    svc, _ = service
    question = _question(svc)
    got, n = _jobs(spark, "answer-driver", lambda: svc.answer(question))
    assert got and n == 0


def test_spark_route_over_driver_cap_matches(spark, service, monkeypatch):
    """A snapshot over ``DRIVER_ROWS`` takes the Spark route, which
    runs jobs and returns the driver route's answers. ``num_top`` below
    the answer count: both routes cut the same total order."""
    svc, _ = service
    counts = {q: len(svc.answer(q, num_top=10_000)) for q in _questions(svc)}
    question = max(counts, key=counts.get)
    num_top = counts[question] - 1
    assert num_top >= 1
    want = svc.answer(question, num_top=num_top)
    monkeypatch.setattr(session, "DRIVER_ROWS", 0)
    spark_svc = AnswerService(spark, svc.triples, svc.embeddings,
                              svc.lexicon, svc.lemmas)
    assert spark_svc.kg is None
    got, n = _jobs(spark, "answer-spark",
                   lambda: spark_svc.answer(question, num_top=num_top))
    assert n > 0 and got == want


def test_impute_takes_spark_route(spark, service, monkeypatch):
    svc, _ = service
    calls = []
    real = Q.answer_queries

    def spy(*a, **k):
        calls.append(k["impute"])
        return real(*a, **k)

    monkeypatch.setattr(Q, "answer_queries", spy)
    got, n = _jobs(spark, "answer-impute",
                   lambda: svc.answer(_question(svc), impute=True))
    assert calls == [True] and n > 0
    assert got and all("score_micro" in a for a in got)


@pytest.mark.parametrize("params", [
    {"threshold-input": "abc"},
    {"threshold-input": "nan"},
    {"threshold-input": "1.5"},
    {"num-top-input": "ten"},
    {"num-top-input": "2.5"},
    {"num-top-input": "0"},
    {"model-type-input": "bogus"},
    {"run-input": "delete"},
])
def test_bad_numeric_input_is_400(service, params):
    _, port = service
    qs = urllib.parse.urlencode({"search-input": "what is x", **params})
    with pytest.raises(urllib.error.HTTPError) as err:
        _get(port, f"/results?{qs}")
    assert err.value.code == 400
    assert err.value.headers.get("Content-Type") == "application/json"
    message = json.loads(err.value.read())["error"]
    assert next(iter(params)) in message


def test_concurrent_requests_match_single_request(service):
    svc, port = service
    qs = urllib.parse.urlencode({"search-input": _question(svc)})

    def fetch(_):
        status, _ctype, body = _get(port, f"/results?{qs}")
        return status, _answer_keys(json.loads(body)["answers"])

    status, want = fetch(None)
    assert status == 200 and want
    with ThreadPoolExecutor(8) as pool:
        results = list(pool.map(fetch, range(8)))
    assert results == [(200, want)] * 8


def test_missing_search_redirects(service):
    _, port = service
    import urllib.error
    req = urllib.request.Request(f"http://127.0.0.1:{port}/results")

    class NoRedirect(urllib.request.HTTPRedirectHandler):
        def redirect_request(self, *a, **k):
            return None

    opener = urllib.request.build_opener(NoRedirect)
    try:
        r = opener.open(req, timeout=30)
        status, loc = r.status, r.headers.get("Location")
    except urllib.error.HTTPError as e:
        status, loc = e.code, e.headers.get("Location")
    assert status == 302 and loc == "/"
