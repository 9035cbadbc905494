"""End-to-end KG-construction pipeline.

The Spark analog of the reference's ``build_graph.py:10-38`` run:
extract_raw_tuples → preprocess_raw_tuples → cluster_entities →
output_to_openke (SURVEY.md §3.1). ``_tables`` declares that DAG once,
nine tables for every ``PipelineConfig``. Like the reference's one
step per document, ``triples`` is one call of the extraction kernel
``functions.fused.fused_extract_stage`` (html→text → clean → coref →
parse → extractor → normalize, one Arrow pass), the same kernel the
streaming ingest runs. The seven ``STAGES`` are the tables other
tables read more than once: ``run_pipeline`` stages each of them
lazily (``session.stage``), so any set of table reads computes each
of them once, and ``plans.run.run_materialized`` commits the same
seven with resume.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass
from functools import cache
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import fused
from ..operators import canon, materialize
from ..session import stage
from ..sources import vocab

#: the tables ``run_pipeline`` stages and ``run_materialized`` commits,
#: in dependency order
STAGES = ("triples", "entity_clusters", "final_triples", "entities",
          "relations", "edges", "type_constraints")


@dataclass
class PipelineConfig:
    top_n_ent: int | None = materialize.TOP_N_ENT
    top_n_rel: int | None = materialize.TOP_N_REL
    clust_dist_threshold: float = canon.DEFAULT_THRESHOLD
    char_limit: int = canon.CHAR_LIMIT
    lang_filter: str | None = "en"
    # optional coref resolution, off by default like the reference
    # (coref_opt=False, rdf_graph.py:24)
    coref: bool = False
    # optional relation clustering, off by default like the reference
    # (cluster_relations flag, rdf_extract.py:102-104,119-122)
    cluster_relations: bool = False
    # which extractor the kernel runs per sentence: 'rdf_parse' = the
    # Phase-I substitute_rdfs twin (default, functions/svo.py);
    # 'textacy' = the Phase-II RDFExtractor twin (rdf_extract.py:767-833,
    # functions/svo_textacy.py)
    extractor: str = "rdf_parse"
    # optional expand_rdfs mention widening (rdf_parse.py:214-226 —
    # declared in the reference but never called, so off by default):
    # 'ner' = rule-NER entitymentions twin, 'chunks' = NP-chunk
    # inventory. Applied by the 'rdf_parse' extractor.
    expand_mentions: str | None = None
    # RegexNER-style gazetteer (term → label) for expand_mentions='ner'
    gazetteer: dict | None = None


def default_lexicons() -> tuple[dict[str, str], dict[str, str]]:
    lex = vocab.pos_lexicon()
    lemmas = dict(vocab.verb_lemma_table())
    for concept, variants in vocab.noun_variants().items():
        for v in variants:
            lemmas.setdefault(v, concept)
    return lex, lemmas


class LazyTables(Mapping):
    """Mapping of table name → DataFrame where each value is built on
    FIRST ACCESS by a memoized thunk of ``_tables``, so repeated access
    returns the same object. Constructing the mapping schedules zero
    Spark jobs — the clustering stages (which are eager by design:
    bounded dictionary collect + the numpy LSH and connected-components
    kernels, canon.py) only run when a caller touches a
    clustering-dependent table. Job-count pinned in
    tests/test_lazy_pipeline.py."""

    def __init__(self, thunks: dict[str, Callable[[], DataFrame]]):
        self._thunks = thunks

    def __getitem__(self, key: str) -> DataFrame:
        return self._thunks[key]()

    def __iter__(self) -> Iterator[str]:
        return iter(self._thunks)

    def __len__(self) -> int:
        return len(self._thunks)


def _tables(documents: DataFrame | None, embeddings: DataFrame,
            cfg: PipelineConfig,
            commit: Callable[[str, Callable[[], DataFrame]], DataFrame],
            ) -> dict[str, Callable[[], DataFrame]]:
    """The pipeline DAG, declared once: table name → memoized thunk, in
    dependency order. Every table is made by ``commit(name, build)``
    and downstream tables read what ``commit`` returns — ``build()``
    itself for the lazy pipeline, the committed parquet for a
    materialized build (so a resumed stage's output is what its
    consumers read, FIXTURES.md invariant #4). The upstream thunks of a
    table that ``commit`` supplies never run, so ``documents`` may be
    None when every table that reads it is supplied."""
    lex, lemmas = default_lexicons()
    thunks: dict[str, Callable[[], DataFrame]] = {}

    def table(name: str, build: Callable[[], DataFrame]):
        thunks[name] = cache(lambda: commit(name, build))
        return thunks[name]

    # one Arrow pass per document: html→text → clean → (coref) → parse
    # → extractor → normalize. Called through its module attribute, so
    # a wrapper installed on ``fused.fused_extract_stage`` sees it.
    triples = table("triples", lambda: fused.fused_extract_stage(
        documents, lex, lemmas, cfg.lang_filter, normalize=True,
        coref=cfg.coref, extractor=cfg.extractor,
        expand_mentions=cfg.expand_mentions, gazetteer=cfg.gazetteer))
    uniq_ents = table("unique_entities", lambda: materialize.top_entities(
        triples(), cfg.top_n_ent))
    uniq_rels = table("unique_relations", lambda: materialize.top_relations(
        triples(), cfg.top_n_rel))
    clusters = table("entity_clusters", lambda: canon.cluster_entities(
        uniq_ents().select("mention"), embeddings,
        threshold=cfg.clust_dist_threshold, char_limit=cfg.char_limit))

    def build_final_triples() -> DataFrame:
        triples_for_canon, uniq_rels_final = triples(), uniq_rels()
        if cfg.cluster_relations:
            # same machinery over predicates (rdf_extract.py:119-122);
            # the substitution maps each pred to its cluster
            # representative
            rel_clusters = canon.cluster_entities(
                uniq_rels_final.select(F.col("pred").alias("mention")),
                embeddings, threshold=cfg.clust_dist_threshold,
                char_limit=cfg.char_limit)
            pred_map = F.broadcast(rel_clusters.select(
                F.col("mention").alias("pred"),
                F.col("rep").alias("pred_rep")))
            triples_for_canon = (
                triples_for_canon.join(pred_map, "pred", "left")
                .withColumn("pred", F.coalesce("pred_rep", "pred"))
                .drop("pred_rep"))
            # re-apply the top-N truncation on the clustered predicates:
            # the reference still restricts to the top-relation list
            # *after* clustering (rdf_extract.py:119-122 → rdf_graph
            # top-N), so the coalesce above must not let unmapped preds
            # bypass the cut.
            uniq_rels_final = materialize.top_relations(
                triples_for_canon, cfg.top_n_rel)
        return canon.canonicalize_triples(
            triples_for_canon.select("subj", "pred", "obj"), clusters(),
            uniq_rels_final)

    final_triples = table("final_triples", build_final_triples)
    entities = table("entities", lambda: materialize.entity_ids(
        final_triples()))
    relations = table("relations", lambda: materialize.relation_ids(
        final_triples()))
    # edges join the committed dictionaries, so a materialized build
    # does not recompute their single-partition id windows
    edges = table("edges", lambda: materialize.graph_edges(
        final_triples(), entities(), relations()))
    table("type_constraints", lambda: materialize.type_constraints(edges()))
    return thunks


def run_pipeline(spark: SparkSession,
                 documents: DataFrame,
                 embeddings: DataFrame,
                 cfg: PipelineConfig | None = None) -> Mapping[str, DataFrame]:
    """documents(url, warc_ts, html, text, lang) + embeddings(token,
    vector) → all intermediate and final tables, lazily: building the
    mapping runs no job, nor does touching ``triples`` or the
    ``unique_*`` tables. Each ``STAGES`` table is
    ``stage(build(), eager=False)``: the first action that reads it
    computes its rows (a shuffled plan runs its AQE stage jobs at
    first access) and every later read reuses them, so any set of
    reads passes each document through the extraction kernel once.
    The clustering kernel behind ``entity_clusters`` is a deliberate
    bounded-dictionary driver pass (canon.cluster_entities)."""

    def commit(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        return stage(build(), eager=False) if name in STAGES else build()

    return LazyTables(_tables(documents, embeddings, cfg or PipelineConfig(),
                              commit))
