"""kg_query: one closed-loop client, one request in flight, over a KG
built in set-up.

Set-up builds the served KG through the incremental path: the corpus
is drained by ``streaming.ingest``, count-merged by
``streaming.kg_update`` and refreshed into a ``plans.snapshots``
snapshot; the edge table for k-hop and the ``plans.answer_api`` HTTP
service are built over that snapshot. The client then sends a fixed
block of requests whose op mix is the same on every seed and whose
constants are drawn from the KG with the seed. Every result is
fetched fully to the client and checked after the block.
"""

from __future__ import annotations

import json
import random
import statistics
import time
import urllib.parse
import urllib.request
from collections import Counter
from contextlib import nullcontext

from checks import DuckTwin, digest, goldens, k_hop_oracle, sort_rows
from harness import SEED_STRIDE, log, write_documents

DOCS = {"full": 300, "tiny": 40}

# requests per block, by op. The mix is an assumption, not measured
# traffic; it is lookup-heavy to keep a block of 100 requests near
# 20 s. Paths, k-hop and the NL answer are the slow ops (0.5-8 s
# each), four of 100, so they lie above p90 and show only in the
# throughput.
MIX = {"full": {"sparql_lookup": 72, "sparql_2hop": 12, "sparql_agg": 12,
                "sparql_path": 2, "k_hop": 1, "nl_answer": 1},
       "tiny": {"sparql_lookup": 3, "sparql_2hop": 2, "sparql_agg": 2,
                "sparql_path": 2, "k_hop": 1, "nl_answer": 1}}

MAX_2HOP_ROWS = 2000

# warm-up requests sent in set-up: one of each kind but the NL answer,
# which at ~5 s is the costliest request and whose first call was not
# measurably slower than later ones (its Python workers are already
# warm from the ingest); a cold k-hop call took twice a warm one.
WARM = ("sparql_lookup", "sparql_2hop", "sparql_agg", "sparql_path",
        "k_hop")


def _lit(s: str) -> bool:
    return '"' not in s and "\\" not in s


def two_hop_sizes(rows) -> dict[tuple[str, str], int]:
    """Result rows of ``?a p1 ?b . ?b p2 ?c`` for every predicate pair
    that has at least one."""
    into: dict[str, Counter] = {}   # b -> Counter(p1) of ?a p1 b
    out: dict[str, Counter] = {}    # b -> Counter(p2) of b p2 ?c
    for s, p, o in rows:
        into.setdefault(o, Counter())[p] += 1
        out.setdefault(s, Counter())[p] += 1
    sizes: Counter = Counter()
    for b, ins in into.items():
        for p2, n2 in out.get(b, {}).items():
            for p1, n1 in ins.items():
                sizes[(p1, p2)] += n1 * n2
    return sizes


def draw_block(rng: random.Random, rows, pairs, mix) -> list[tuple]:
    """The block's requests as (op, argument), shuffled with ``rng``."""
    rows = [r for r in rows if _lit(r[0]) and _lit(r[1]) and _lit(r[2])]
    # 2-hop pairs with bounded results, so that no single draw of a
    # huge join decides the latency percentiles
    chains = sorted(k for k, n in two_hop_sizes(rows).items()
                    if n <= MAX_2HOP_ROWS)
    preds = sorted({r[1] for r in rows})
    heads = sorted({u for u, _ in pairs})

    def one(op):
        if op == "sparql_lookup":
            return f'SELECT ?p ?o WHERE {{ "{rng.choice(rows)[0]}" ?p ?o }}'
        if op == "sparql_2hop":
            p1, p2 = rng.choice(chains)
            return (f'SELECT ?a ?c WHERE {{ ?a "{p1}" ?b . '
                    f'?b "{p2}" ?c }}')
        if op == "sparql_agg":
            return (f'SELECT ?o (COUNT(*) AS ?n) WHERE {{ ?s '
                    f'"{rng.choice(preds)}" ?o }} GROUP BY ?o')
        if op == "sparql_path":
            s, p, _ = rng.choice(rows)
            return f'SELECT ?x WHERE {{ "{s}" "{p}"+ ?x }}'
        if op == "k_hop":
            return rng.choice(heads)
        s, p, _ = rng.choice(rows)
        return f"the {s.split(' | ')[0]} {p} what"

    block = [(op, one(op)) for op, n in mix.items() for _ in range(n)]
    rng.shuffle(block)
    return block


class Client:
    """Sends one request and fetches its result fully."""

    def __init__(self, spark, kg, edges, port, tracer):
        self.spark, self.kg, self.edges = spark, kg, edges
        self.port, self.tracer = port, tracer

    def span(self, name, root=False):
        return self.tracer.span(name, root) if self.tracer else nullcontext()

    def __call__(self, op: str, arg):
        from multivac_spark.operators import analytics
        from multivac_spark.operators import sparql as S

        with self.span(f"query.{op}", root=True):
            if op.startswith("sparql_"):
                df = S.sparql(self.kg, arg)
                with self.span("operators.sparql.exec") as s:
                    rows = sort_rows(df.collect())
                    if s is not None:
                        s.counts["rows_out"] = len(rows)
                return rows
            if op == "k_hop":
                with self.span("operators.analytics.k_hop"):
                    seeds = self.spark.createDataFrame([(arg,)], "id long")
                    return {r["node"]: r["hops"] for r in analytics.k_hop(
                        self.edges, seeds, 2).collect()}
            qs = urllib.parse.urlencode({"search-input": arg})
            with self.span("plans.answer_api.http"):
                with urllib.request.urlopen(
                        f"http://127.0.0.1:{self.port}/results?{qs}",
                        timeout=120) as resp:
                    return json.loads(resp.read())["answers"]


def run(spark, work, clock, tracer, repeats: int, seed: int,
        scale: str) -> dict:
    from multivac_spark.operators import canon, materialize
    from multivac_spark.plans import snapshots
    from multivac_spark.plans.answer_api import AnswerService, serve
    from multivac_spark.plans.pipeline import default_lexicons
    from multivac_spark.sources import corpus, vocab
    from multivac_spark.streaming import ingest, kg_update

    n_docs = DOCS[scale]
    docs_dir, triples_dir = work("docs"), work("triples")
    counts_dir, kg_dir = work("counts"), work("kg")
    lex, lemmas = default_lexicons()
    vl = vocab.verb_lemma_table()
    emb = corpus.embeddings_df(spark)
    if tracer is not None:
        tracer.active = True

    with clock.exclude():
        write_documents(docs_dir, n_docs, seed * SEED_STRIDE)
    ingest.ingest_available_now(spark, docs_dir, triples_dir,
                                work("ck_ingest"), lex, lemmas,
                                normalize=True, verb_lemmas=vl)
    kg_update.counts_update_available_now(spark, triples_dir, counts_dir,
                                          work("ck_counts"))
    kg_update.refresh_and_snapshot(spark, triples_dir, counts_dir, emb,
                                   kg_dir, batch_id=0)
    # the server holds the current snapshot and the edge table in
    # memory, as AnswerService does with its triples
    snapshot = snapshots.read(spark, kg_dir)
    kg = snapshot.localCheckpoint()
    edges = materialize.build_graph_tables(kg)["edges"].localCheckpoint()
    svc = AnswerService(spark, kg, emb, lex, lemmas)
    srv, port = serve(svc)
    if tracer is not None:
        tracer.active = False
    log(f"KG served at {time.perf_counter() - clock.t0:.1f}s")

    try:
        with clock.exclude():
            rows = sort_rows(kg.collect())
            pairs = [(r[0], r[1]) for r in
                     edges.select("head_id", "tail_id").collect()]
            rng = random.Random(seed)
            warm = draw_block(rng, rows, pairs, dict.fromkeys(WARM, 1))
            block = draw_block(rng, rows, pairs, MIX[scale])
        client = Client(spark, kg, edges, port, None)
        for op, arg in warm:
            client(op, arg)
        clock.done()
        log(f"set-up {clock.total:.1f}s")

        def run_block(traced: bool):
            client.tracer = tracer if traced else None
            if traced:
                tracer.active = True
            results, lat, failed = [], [], 0
            t0 = time.perf_counter()
            for op, arg in block:
                t = time.perf_counter()
                try:
                    results.append(client(op, arg))
                    lat.append(time.perf_counter() - t)
                except Exception as exc:  # a failed request is counted
                    log("FAILED", op, arg, repr(exc))
                    results.append(None)
                    failed += 1
            wall = time.perf_counter() - t0
            if traced:
                tracer.active = False
            return results, lat, failed, wall

        blocks = [run_block(False) for _ in range(repeats)]
        traced = run_block(True) if tracer is not None else None
    finally:
        srv.shutdown()
        srv.server_close()

    log(f"blocks done at {time.perf_counter() - clock.t0:.1f}s")
    # ---- checks (untimed) ----
    t_checks = time.perf_counter()
    triples = spark.read.schema(kg_update.TRIPLES_DDL).parquet(triples_dir)
    clusters = canon.cluster_entities(
        materialize.top_entities(triples).select("mention"), emb)
    want_kg = digest(canon.canonicalize_triples(
        triples.select("subj", "pred", "obj"), clusters,
        materialize.top_relations(triples)))
    got_kg = digest(kg)
    golden = goldens("kg_query", seed) if scale == "full" else None
    failed = int(got_kg != want_kg
                 or (golden is not None and got_kg != golden["kg"]))
    if failed:
        log("KG MISMATCH", got_kg, want_kg, golden)
    twin = DuckTwin(snapshot.inputFiles())
    expected = {i: (twin.rows(arg) if op.startswith("sparql_")
                    else k_hop_oracle(pairs, arg, 2))
                for i, (op, arg) in enumerate(block) if op != "nl_answer"}
    twin.close()
    kg_rows = set(rows)
    answers: dict[str, list] = {}

    def correct(i: int, op: str, res) -> bool:
        if op != "nl_answer":
            return res == expected[i]
        got = sorted([a["head"], a["rel"], a["answer"], a["slot"]]
                     for a in res)
        in_kg = all((h, r, x) in kg_rows if slot == "tail"
                    else (x, r, h) in kg_rows for h, r, x, slot in got)
        answers[str(i)] = got
        return bool(got) and in_kg and (
            golden is None or golden["nl_answer"].get(str(i)) == got)

    attempted = 1
    runs = blocks + ([traced] if traced else [])
    for results, _, b_failed, _ in runs:
        attempted += len(block)
        failed += b_failed
        for i, ((op, arg), res) in enumerate(zip(block, results)):
            if res is not None and not correct(i, op, res):
                log("WRONG", op, arg)
                failed += 1
    log(f"checks took {time.perf_counter() - t_checks:.1f}s")
    lat = [x for b in blocks for x in b[1]]
    return {"attempted": attempted, "failed": failed,
            "latencies_s": lat,
            "throughput": len(lat) / sum(b[3] for b in blocks),
            "traced_s": statistics.median(traced[1]) if traced else None,
            "untraced_s": statistics.median(lat),
            "outputs": {"kg": got_kg, "nl_answer": answers}}
