"""Query mapping: natural-language query → KG answers.

Reference behavior (src/rdf_graph/map_queries.py:359-515 ``run`` and
:153-226 ``get_answers``; Flask wrapper app.py:20-49):

1. clean the query strings (rdf_parse.clean_queries, rdf_parse.py:22-61)
2. parse each query with sub_rdfs and keep the *longest* triple
   (``get_rdfs(how='longest')`` — max total token count,
   rdf_parse.py:245-257; map_queries.py:470-472)
3. average-embed each part (avg_embed, map_queries.py:75-88)
4. cosine-match each part against ALL entity embeddings, keep the
   argmax above threshold 0.75 (map_queries.py:153-226)
5. answer from the edge list: matched (head, rel) → tails, matched
   (tail, rel) → heads (the nested-loop file-rescan of
   predicted_object, map_queries.py:268-356, re-expressed as two
   broadcast equi-joins)

Two routes compute steps 2-5. ``answer_queries`` runs them as Spark
jobs over any number of queries; it serves batch callers, imputation,
and is the oracle. ``DriverKG`` runs them in process for one query
over a KG collected once through ``session.driver_frame``, with the
same kernels (``longest_triple``, ``canon.grouped_mean``) and the same
floating-point folds, so both routes return the same answer set.

The OpenKE TransE inference (con.predict_*_entity) is an external C++
library boundary in the reference and is out of the rebuild's minimum
slice (SURVEY.md §3.3); the KG-lookup path implemented here is the
non-inference answer set.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.parse import parse_tokens, tokenize
from ..functions.svo import extract_svo
from ..session import driver_frame, stage
from .canon import grouped_mean, mention_embeddings
from .dedup import cosine

MATCH_THRESHOLD = 0.75  # map_queries.py:211


# -- clean_queries port (rdf_parse.py:22-61) --------------------------------

_RE_DQ = re.compile(r"“|”")
_RE_SQ = re.compile(r"‘|’")
_RE_BT = re.compile(r"`")
_RE_NONALPHA_START = re.compile(r"^(?!\()[^a-zA-Z]+")
_RE_PAREN_START = re.compile(r"^(\(.*\))?\W+")
_RE_SPACE_CLOSE = re.compile(r"(\s+)([\)\]\}\.\,\?\!])")
_RE_OPEN_SPACE = re.compile(r"([\(\[\{])(\s+)")


def clean_query(query: str) -> str | None:
    """One query through the reference's cleaning chain; None = dropped."""
    query = query.strip()
    query = _RE_DQ.sub('"', query)
    query = _RE_SQ.sub("'", query)
    query = _RE_BT.sub("'", query)
    query = query.strip('"').strip("'")
    query = query[query.index(re.split(r"\"", query)[-1]):]
    query = query[query.index(
        re.split(r"NumericCitation", query, flags=re.IGNORECASE)[-1]):]
    query = query[query.index(re.split(r"[\.\!\?]\s+", query)[-1]):]
    query = _RE_NONALPHA_START.sub("", query)
    query = _RE_PAREN_START.sub("", query)
    query = _RE_SPACE_CLOSE.sub(r"\2", query)
    query = _RE_OPEN_SPACE.sub(r"\1", query)
    if len(query) == 0:
        return None
    tok_chk = [len(x) for x in query.split()]
    if sum(tok_chk) / len(tok_chk) < 2:  # avg token length filter
        return None
    if not query.endswith("?"):
        query += "?"
    return query[0].upper() + query[1:]


def clean_queries_stage(df: DataFrame, query_col: str = "query") -> DataFrame:
    cols = df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[query_col] = [None if q is None else clean_query(q)
                              for q in pdf[query_col]]
            yield pdf[cols]

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    return df.mapInPandas(run, schema=schema).filter(
        F.col(query_col).isNotNull())


# -- query → longest triple --------------------------------------------------

QPARTS_SCHEMA = ("query_id long, query string, q_subj string, "
                 "q_pred string, q_obj string")


def longest_triple(query: str, lexicon: dict, lemmas: dict
                   ) -> tuple[str, str, str] | None:
    """sub_rdfs extraction of one cleaned query: the lower-cased
    (subj, pred, obj) with the most tokens, the first on ties
    (how='longest', rdf_parse.py:245-257); None when the query has no
    triple."""
    words = tokenize(query.rstrip("?"))
    if not words:
        return None
    best, best_len = None, -1
    for _idx, s, p, o in extract_svo(parse_tokens(words, lexicon, lemmas)):
        total = len(s.split()) + len(p.split()) + len(o.split())
        if total > best_len:
            best, best_len = (s.lower(), p.lower(), o.lower()), total
    return best


def extract_query_parts(queries: DataFrame, lexicon: dict, lemmas: dict,
                        query_col: str = "query") -> DataFrame:
    """``longest_triple`` of every query, one Arrow pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"query_id": [], "query": [], "q_subj": [],
                   "q_pred": [], "q_obj": []}
            for qid, q in zip(pdf["query_id"], pdf[query_col]):
                best = longest_triple(q, lexicon, lemmas)
                if best is None:
                    continue
                out["query_id"].append(int(qid))
                out["query"].append(q)
                out["q_subj"].append(best[0])
                out["q_pred"].append(best[1])
                out["q_obj"].append(best[2])
            yield pd.DataFrame(out)

    return queries.mapInPandas(run, schema=QPARTS_SCHEMA)


# -- cosine match + edge lookup ----------------------------------------------

def match_parts(parts: DataFrame, embeddings: DataFrame,
                entity_vecs: DataFrame, part_col: str,
                threshold: float = MATCH_THRESHOLD) -> DataFrame:
    """→ (part, matched_entity, sim) best cosine match over threshold
    (get_answers, map_queries.py:153-226)."""
    pv = mention_embeddings(
        parts.select(F.col(part_col).alias("mention")).distinct(),
        embeddings).withColumnRenamed("mention", "part") \
        .withColumnRenamed("vector", "pvec")
    ev = entity_vecs.withColumnRenamed("mention", "entity") \
        .withColumnRenamed("vector", "evec")
    sim = cosine(F.col("pvec").cast("array<double>"),
                 F.col("evec").cast("array<double>"))
    scored = (F.broadcast(pv).crossJoin(ev)
              .withColumn("sim", sim)
              .filter(F.col("sim") >= threshold))
    w = Window.partitionBy("part").orderBy(F.desc("sim"), F.asc("entity"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1").select("part", "entity", "sim"))


def kg_vectors(final_triples: DataFrame,
               embeddings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (entity_vecs, rel_vecs), staged: the vectors of every
    subj/obj and every pred. They depend only on the KG, so a service
    builds them once and passes them to each ``answer_queries``."""
    entity_vecs = stage(mention_embeddings(
        final_triples.select(F.col("subj").alias("mention"))
        .union(final_triples.select(F.col("obj").alias("mention")))
        .distinct(), embeddings))
    rel_vecs = stage(mention_embeddings(
        final_triples.select(F.col("pred").alias("mention")).distinct(),
        embeddings))
    return entity_vecs, rel_vecs


def answer_queries(query_parts: DataFrame,
                   final_triples: DataFrame,
                   embeddings: DataFrame,
                   threshold: float = MATCH_THRESHOLD,
                   impute: bool = False,
                   model: str = "blend",
                   transe_opts: dict | None = None,
                   vectors: tuple[DataFrame, DataFrame] | None = None
                   ) -> DataFrame:
    """Full get_answers analog: match subj/pred/obj parts to canonical
    entities/relations by embedding cosine, then answer from the triple
    table: (head, rel) → tails and (rel, tail) → heads.

    With ``impute=True`` the answer set additionally carries the
    link-prediction completions of the reference's ``predict`` path
    (map_queries.py:90-137): queries whose rel matched and exactly one
    of head/tail matched get ``imputed_tail``/``imputed_head`` rows
    scored in [0, 1e6] (exact KG answers carry score_micro = 1e6),
    zeroed below predict_triple's 0.1 threshold.

    ``model`` selects the imputation scorer: ``"blend"`` — the
    frequency+cosine stand-in (operators/linkpred); ``"transe"`` — a
    TransE model TRAINED on the KG (operators/transe), which is what
    the reference actually loads for this path (map_queries.py:90-137
    ranks with the OpenKE model). ``transe_opts`` forwards dim/epochs/
    lr/k to the trainer. Held-out completion quality trained ≥ blend
    is pinned in tests/test_transe_completion.py. ``vectors`` defaults
    to ``kg_vectors(final_triples, embeddings)``."""
    entity_vecs, rel_vecs = vectors or kg_vectors(final_triples, embeddings)

    subj_m = match_parts(query_parts, embeddings, entity_vecs, "q_subj",
                         threshold).withColumnRenamed("entity", "head_ent") \
        .withColumnRenamed("part", "q_subj").drop("sim")
    obj_m = match_parts(query_parts, embeddings, entity_vecs, "q_obj",
                        threshold).withColumnRenamed("entity", "tail_ent") \
        .withColumnRenamed("part", "q_obj").drop("sim")
    rel_m = match_parts(query_parts, embeddings, rel_vecs, "q_pred",
                        threshold).withColumnRenamed("entity", "rel_match") \
        .withColumnRenamed("part", "q_pred").drop("sim")

    q = (query_parts
         .join(F.broadcast(subj_m), "q_subj", "left")
         .join(F.broadcast(obj_m), "q_obj", "left")
         .join(F.broadcast(rel_m), "q_pred", "left"))

    # forward: (head, rel) known → tails are answers
    fwd = (q.filter(F.col("head_ent").isNotNull()
                    & F.col("rel_match").isNotNull())
           .join(final_triples,
                 (F.col("head_ent") == final_triples.subj)
                 & (F.col("rel_match") == final_triples.pred))
           .select("query_id", "query",
                   F.col("subj").alias("head"), F.col("pred").alias("rel"),
                   F.col("obj").alias("answer"),
                   F.lit("tail").alias("slot")))
    # backward: (rel, tail) known → heads are answers
    bwd = (q.filter(F.col("tail_ent").isNotNull()
                    & F.col("rel_match").isNotNull())
           .join(final_triples,
                 (F.col("tail_ent") == final_triples.obj)
                 & (F.col("rel_match") == final_triples.pred))
           .select("query_id", "query",
                   F.col("subj").alias("answer"), F.col("pred").alias("rel"),
                   F.col("obj").alias("head"),
                   F.lit("head").alias("slot"))
           .select("query_id", "query", "head", "rel", "answer", "slot"))
    exact = fwd.unionByName(bwd).dropDuplicates(
        ["query_id", "head", "rel", "answer", "slot"])
    if not impute:
        return exact

    from .linkpred import predict_completions

    # queries with rel matched and exactly one anchor → predict() shape
    cands = (q.filter(F.col("rel_match").isNotNull()
                      & (F.col("head_ent").isNotNull()
                         != F.col("tail_ent").isNotNull()))
             .select("query_id", "query",
                     F.col("head_ent").alias("head"),
                     F.col("rel_match").alias("pred"),
                     F.col("tail_ent").alias("tail")))
    if model == "transe":
        from .transe import predict_completions_transe
        raw = predict_completions_transe(
            final_triples,
            cands.select("query_id", "head", "pred", "tail"),
            **(transe_opts or {})).drop("rank")
    else:
        raw = predict_completions(final_triples, embeddings,
                                  cands.select("query_id", "head",
                                               "pred", "tail"))
    imputed = (raw
               .join(F.broadcast(cands.select("query_id", "query")
                                 .distinct()), "query_id")
               .select("query_id", "query", "head",
                       F.col("pred").alias("rel"), "answer", "slot",
                       "score_micro"))
    return (exact.withColumn("score_micro", F.lit(1_000_000).cast("long"))
            .unionByName(imputed)
            .dropDuplicates(["query_id", "head", "rel", "answer", "slot"]))


# -- driver route: one question over the collected KG ------------------------

class DriverKG:
    """What ``answer_queries`` reads for one KG, collected to the driver
    once: the triples indexed by (subj, pred) → objs and (pred, obj) →
    subjs, the ``kg_vectors`` as name-sorted float64 matrices with
    their norms, and the embedding rows by token. ``answers`` is
    ``answer_queries(impute=False)`` for one query in process, with no
    Spark job.

    Parity with the Spark route is bit for bit, not approximate: a
    part's mean is ``canon.grouped_mean`` (the same sequential fold as
    ``mention_embeddings``' avg) cast to float32 as that avg is; the
    cosine is ``dedup.cosine``'s sequential fold over the dimensions,
    vectorized across entities; ties at the argmax go to the smallest
    name, as ``match_parts``' window does."""

    def __init__(self, triples: pd.DataFrame, entity_vecs: pd.DataFrame,
                 rel_vecs: pd.DataFrame, embeddings: pd.DataFrame):
        self.objs: dict[tuple[str, str], set[str]] = {}
        self.subjs: dict[tuple[str, str], set[str]] = {}
        for s, p, o in zip(triples["subj"], triples["pred"], triples["obj"]):
            self.objs.setdefault((s, p), set()).add(o)
            self.subjs.setdefault((p, o), set()).add(s)
        self.entities = self._matrix(entity_vecs)
        self.relations = self._matrix(rel_vecs)
        self.tok_row = {t: i for i, t in enumerate(embeddings["token"])}
        self.emb = (np.stack(embeddings["vector"].tolist()).astype(np.float64)
                    if len(embeddings) else np.zeros((0, 0)))

    @classmethod
    def collect(cls, final_triples: DataFrame, embeddings: DataFrame,
                vectors: tuple[DataFrame, DataFrame]) -> "DriverKG | None":
        """One ``session.driver_frame`` per input (the triples first);
        None as soon as one holds more than ``DRIVER_ROWS`` rows."""
        frames = []
        for df in (final_triples.select("subj", "pred", "obj"), *vectors,
                   embeddings.select("token", "vector")):
            pdf = driver_frame(df)
            if pdf is None:
                return None
            frames.append(pdf)
        return cls(*frames)

    @staticmethod
    def _matrix(vecs: pd.DataFrame):
        """(mention, vector) → (sorted names, (dim, n) float64 matrix,
        the n norms, each a sequential fold as in ``dedup.cosine``)."""
        vecs = vecs.sort_values("mention")
        names = vecs["mention"].tolist()
        if not names:
            return names, None, None
        m = np.stack(vecs["vector"].tolist()).astype(np.float64).T.copy()
        sq = np.zeros(len(names))
        for row in m:
            sq += row * row
        return names, m, np.sqrt(sq)

    def match(self, part: str, which, threshold: float) -> str | None:
        """``match_parts`` for one part against ``self.entities`` or
        ``self.relations``: the name with the highest cosine at least
        ``threshold``, the smallest name on ties; None if none."""
        names, m, norms = which
        rows = [self.tok_row[t] for t in part.split(" ") if t in self.tok_row]
        if not rows or not names:
            return None
        p = grouped_mean(self.emb, [rows])[0].astype(np.float32) \
            .astype(np.float64)
        dot, sq = np.zeros(len(names)), 0.0
        for x, row in zip(p, m):
            dot += row * x
            sq += x * x
        denom = np.sqrt(sq) * norms
        sim = np.divide(dot, denom, out=np.full(len(names), np.nan),
                        where=denom != 0)
        ok = np.flatnonzero(sim >= threshold)
        return names[ok[np.argmax(sim[ok])]] if len(ok) else None

    def answers(self, parts: tuple[str, str, str],
                threshold: float) -> list[tuple[str, str, str, str]]:
        """→ [(head, rel, answer, slot)] of ``answer_queries`` for one
        query's (q_subj, q_pred, q_obj)."""
        q_subj, q_pred, q_obj = parts
        rel = self.match(q_pred, self.relations, threshold)
        if rel is None:
            return []
        out = []
        head = self.match(q_subj, self.entities, threshold)
        if head is not None:
            out += [(head, rel, o, "tail")
                    for o in self.objs.get((head, rel), ())]
        tail = self.match(q_obj, self.entities, threshold)
        if tail is not None:
            out += [(tail, rel, s, "head")
                    for s in self.subjs.get((rel, tail), ())]
        return out
