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

The OpenKE TransE inference (con.predict_*_entity) is an external C++
library boundary in the reference and is out of the rebuild's minimum
slice (SURVEY.md §3.3); the KG-lookup path implemented here is the
non-inference answer set.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.parse import parse_tokens, tokenize
from ..functions.svo import extract_svo
from ..session import stage
from .canon import mention_embeddings
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


def extract_query_parts(queries: DataFrame, lexicon: dict, lemmas: dict,
                        query_col: str = "query") -> DataFrame:
    """sub_rdfs extraction, keep the triple with the most tokens
    (how='longest', rdf_parse.py:245-257)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"query_id": [], "query": [], "q_subj": [],
                   "q_pred": [], "q_obj": []}
            for qid, q in zip(pdf["query_id"], pdf[query_col]):
                words = tokenize(q.rstrip("?"))
                if not words:
                    continue
                toks = parse_tokens(words, lexicon, lemmas)
                best, best_len = None, -1
                for idx, s, p, o in extract_svo(toks):
                    total = len(s.split()) + len(p.split()) + len(o.split())
                    if total > best_len:
                        best, best_len = (s, p, o), total
                if best is None:
                    continue
                out["query_id"].append(int(qid))
                out["query"].append(q)
                out["q_subj"].append(best[0].lower())
                out["q_pred"].append(best[1].lower())
                out["q_obj"].append(best[2].lower())
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
