"""HTTP answer service (plans/answer_api.py) vs the reference Flask
app (app.py:12-49): same routes and parameter names, answers computed
by the real query-mapping path, exercised over an in-process HTTP
round trip (the grobid-stub pattern)."""
import json
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest

from multivac_spark.operators import query as Q
from multivac_spark.plans.answer_api import AnswerService, serve
from multivac_spark.sources import corpus, vocab


@pytest.fixture(scope="module")
def service(spark):
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline

    docs = corpus.documents_df(spark, 80, partitions=4)
    emb = corpus.embeddings_df(spark)
    tables = run_pipeline(spark, docs, emb,
                          PipelineConfig(top_n_ent=3000, top_n_rel=50))
    lex = vocab.pos_lexicon()
    lemmas = dict(vocab.verb_lemma_table())
    for c, vs in vocab.noun_variants().items():
        for v in vs:
            lemmas.setdefault(v, c)
    svc = AnswerService(spark, tables["final_triples"], emb, lex, lemmas)
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
    svc, _ = service
    calls = []
    real = Q.kg_vectors

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(Q, "kg_vectors", counting)
    fresh = AnswerService(spark, svc.triples, svc.embeddings,
                          svc.lexicon, svc.lemmas)
    assert len(calls) == 1
    question = _question(svc)
    first = fresh.answer(question)
    second = fresh.answer(question)
    assert len(calls) == 1
    assert _answer_keys(first) == _answer_keys(second) \
        == _answer_keys(svc.answer(question))


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
