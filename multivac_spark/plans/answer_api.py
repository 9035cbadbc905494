"""HTTP answer service — the reference's Flask query app rebuilt as a
stdlib twin over the engine's query-answering path.

Reference counterpart: ``app.py:12-49`` (Flask; ``GET /`` renders the
query form, ``GET /results`` reads ``search-input`` /
``model-type-input`` / ``threshold-input`` / ``num-top-input`` /
``run-input`` / ``verbosity-input`` and calls ``map_queries.run``).
This twin keeps the same routes and parameter names but answers from
the engine's own pipeline — ``clean_query`` → the longest triple →
the cosine match → the KG lookup (operators/query.py, the
``map_queries.py:153-226`` analog) — and returns JSON (the echoed
args plus the ranked answers) instead of the reference's
echo-the-args-dict debug response.

Serving model: ``http.server.ThreadingHTTPServer`` (stdlib — Flask is
not a dependency of this repo) wrapping ONE long-lived SparkSession,
the same deployment shape as the reference's single-process Flask app.
Everything an answer reads is fixed for the life of the service, so
the constructor builds it once: the staged snapshot, its
``query.kg_vectors`` (computed by Spark), and, when the snapshot fits
``session.driver_frame``, a ``query.DriverKG`` holding both on the
driver. A ``run-input=query`` answer is then computed in process and
runs no Spark job (p50 about 1 ms, against 2.8 s and 19 jobs through
Spark, over 40 questions on a 300-page KG, 4-core local session).
``run-input=predict`` (imputation), the ``transe`` model and a
snapshot over ``session.DRIVER_ROWS`` rows take the Spark route,
``query.answer_queries``, which is also the driver route's oracle. A
bad ``threshold-input`` / ``num-top-input`` / ``model-type-input`` /
``run-input`` gets a 400 with a JSON ``error`` naming the parameter.
"""
from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F

from ..operators import query as Q
from ..session import stage

_FORM_HTML = b"""<!doctype html><html><body>
<form action="/results" method="get">
<input name="search-input" placeholder="question">
<select name="model-type-input">
<option value="blend">blend</option><option value="transe">transe</option>
</select>
<input name="threshold-input" value="0.75">
<input name="num-top-input" value="10">
<button type="submit">Ask</button>
</form></body></html>"""


class AnswerService:
    """Holds the session and the KG state, built once, and answers one
    query string per call (the ``map_queries.run`` analog).

    ``self.kg`` is the ``query.DriverKG`` of the snapshot, or None when
    the snapshot (or its vectors, or the embedding table) holds more
    than ``session.DRIVER_ROWS`` rows. Both routes return the top
    ``num_top`` answers in one total order: ``score_micro`` descending
    (imputed answers only), then ``answer``, ``head``, ``rel``,
    ``slot``."""

    def __init__(self, spark, final_triples, embeddings,
                 lexicon, lemmas):
        self.spark = spark
        self.triples = stage(final_triples)
        self.embeddings = embeddings
        self.vectors = Q.kg_vectors(self.triples, embeddings)
        self.lexicon = lexicon
        self.lemmas = lemmas
        self.kg = Q.DriverKG.collect(self.triples, embeddings, self.vectors)

    def answer(self, search: str, model: str = "blend",
               threshold: float = 0.75, num_top: int = 10,
               impute: bool = False) -> list[dict]:
        cleaned = Q.clean_query(search)
        if not cleaned:
            return []
        if self.kg is not None and not impute and model != "transe":
            parts = Q.longest_triple(cleaned, self.lexicon, self.lemmas)
            found = self.kg.answers(parts, threshold) if parts else []
            top = sorted(found, key=lambda r: (r[2], r[0], r[1], r[3]))
            return [{"query_id": 0, "query": cleaned, "head": h, "rel": r,
                     "answer": a, "slot": slot}
                    for h, r, a, slot in top[:int(num_top)]]
        qdf = self.spark.createDataFrame(
            [(0, cleaned)], "query_id long, query string")
        parts = Q.extract_query_parts(qdf, self.lexicon, self.lemmas)
        answers = Q.answer_queries(
            parts, self.triples, self.embeddings,
            threshold=threshold, impute=impute, model=model,
            vectors=self.vectors)
        cols = answers.columns
        order = [F.desc("score_micro")] if "score_micro" in cols else []
        rows = (answers.orderBy(*order, "answer", "head", "rel", "slot")
                .limit(int(num_top)).collect())
        return [r.asDict() for r in rows]


def _number(qs: dict, name: str, default: str, kind, lo, hi):
    """``qs[name]`` parsed by ``kind`` and checked against [lo, hi];
    ValueError names the parameter."""
    raw = qs.get(name, default)
    try:
        value = kind(raw)
    except ValueError:
        value = None
    if value is None or not lo <= value <= hi:   # `not` also rejects nan
        raise ValueError(f"{name} must be a number in [{lo}, {hi}]: {raw!r}")
    return value


def _choice(qs: dict, name: str, default: str, allowed: tuple[str, ...]):
    """``qs[name]``, which must be one of ``allowed``; ValueError names
    the parameter."""
    raw = qs.get(name, default)
    if raw not in allowed:
        raise ValueError(f"{name} must be one of {list(allowed)}: {raw!r}")
    return raw


def _make_handler(service: AnswerService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):   # quiet test runs
            pass

        def _send(self, code, body, ctype):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            url = urlparse(self.path)
            if url.path == "/":
                self._send(200, _FORM_HTML, "text/html")
                return
            if url.path != "/results":
                self._send(404, b"not found", "text/plain")
                return
            qs = {k: v[0] for k, v in parse_qs(url.query).items()}
            search = qs.get("search-input", "")
            if not search:
                # app.py:48-49 redirects non-queries back to the form
                self.send_response(302)
                self.send_header("Location", "/")
                self.end_headers()
                return
            try:
                args = {
                    "search": search,
                    "model": _choice(qs, "model-type-input", "blend",
                                     ("blend", "transe")),
                    "threshold": _number(qs, "threshold-input", "0.75",
                                         float, -1.0, 1.0),
                    "num_top_rel": _number(qs, "num-top-input", "10",
                                           int, 1, float("inf")),
                    "run": _choice(qs, "run-input", "query",
                                   ("query", "predict")),
                    "verbose": qs.get("verbosity-input", "false"),
                }
            except ValueError as exc:
                self._send(400, json.dumps({"error": str(exc)}).encode(),
                           "application/json")
                return
            try:
                answers = service.answer(
                    search, model=args["model"],
                    threshold=args["threshold"],
                    num_top=args["num_top_rel"],
                    impute=args["run"] == "predict")
            except Exception as exc:   # surface, don't hang the client
                self._send(500, json.dumps(
                    {"error": f"{type(exc).__name__}: {exc}"}).encode(),
                    "application/json")
                return
            body = json.dumps({"args": args, "answers": answers},
                              default=str).encode()
            self._send(200, body, "application/json")

    return Handler


def serve(service: AnswerService, host: str = "127.0.0.1",
          port: int = 0) -> tuple[ThreadingHTTPServer, int]:
    """Start the service on a background thread; returns (server,
    bound_port). ``server.shutdown()`` stops it."""
    srv = ThreadingHTTPServer((host, port), _make_handler(service))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
