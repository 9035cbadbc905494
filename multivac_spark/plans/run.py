"""Materialized pipeline runner with stage-level resume.

``spark-submit --py-files multivac_spark.zip`` shape: each checkpoint
stage writes parquet + a lineage manifest entry; a rerun with the same
(out_dir, run_id) skips completed stages and feeds their materialized
output to downstream stages (FIXTURES.md invariant #4). Stages are
wired so a resumed stage's *parquet* is what downstream reads — no
silent recomputation of upstream work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.normalize import normalize_triples
from ..operators import canon, materialize
from ..sources import vocab
from . import lineage
from .pipeline import PipelineConfig, default_lexicons

# PipelineConfig fields this runner does not implement (it builds the
# default KG); plans.pipeline.run_pipeline does
_UNSUPPORTED_FIELDS = ("coref", "cluster_relations", "extractor",
                      "expand_mentions", "gazetteer")


def run_materialized(spark: SparkSession,
                     documents: DataFrame,
                     embeddings: DataFrame,
                     out_dir: str,
                     run_id: str = "run0",
                     cfg: PipelineConfig | None = None) -> dict[str, DataFrame]:
    cfg = cfg or PipelineConfig()
    for name in _UNSUPPORTED_FIELDS:
        if getattr(cfg, name) != getattr(PipelineConfig, name):
            raise ValueError(
                f"run_materialized does not support PipelineConfig.{name}"
                f"={getattr(cfg, name)!r}; use plans.pipeline.run_pipeline")
    lex, lemmas = default_lexicons()

    def stage(name: str, build, partition_by: str | None = None):
        return lineage.run_or_resume(spark, out_dir, run_id, name, build,
                                     partition_by=partition_by)

    def build_sentences() -> DataFrame:
        from ..functions.parse import fused_sentences_stage
        return fused_sentences_stage(documents, lex, lemmas,
                                     cfg.lang_filter)

    sentences = stage("sentences", build_sentences)

    # triples come from the fused doc→triples stage (no Arrow round-trip
    # of token structs); sentences above is the product/debug table
    from ..functions.fused import fused_extract_stage
    triples = stage("triples", lambda: normalize_triples(
        fused_extract_stage(documents, lex, lemmas, cfg.lang_filter),
        vocab.verb_lemma_table(), lex))

    uniq_ents = materialize.top_entities(triples, cfg.top_n_ent)
    uniq_rels = materialize.top_relations(triples, cfg.top_n_rel)

    clusters = stage("entity_clusters", lambda: canon.cluster_entities(
        uniq_ents.select("mention"), embeddings,
        threshold=cfg.clust_dist_threshold, char_limit=cfg.char_limit))

    final_triples = stage("final_triples", lambda: canon.canonicalize_triples(
        triples.select("subj", "pred", "obj"), clusters, uniq_rels))

    graph_lazy: dict[str, DataFrame] = {}

    def graph_tables() -> dict[str, DataFrame]:
        if not graph_lazy:
            graph_lazy.update(materialize.build_graph_tables(final_triples))
        return graph_lazy

    entities = stage("entities", lambda: graph_tables()["entities"])
    relations = stage("relations", lambda: graph_tables()["relations"])
    # edges land in the bucketed layout (plans/tables.py): rel_bucket
    # directory partitions + (bucket, salt) repartition + in-partition
    # sort — predicate-pruned scans, no hot-predicate writer
    edges = stage(
        "edges",
        lambda: materialize.salted(
            graph_tables()["edges"]
            .withColumn("rel_bucket",
                        F.pmod(F.hash("rel_id"), F.lit(16))),
            "rel_id")
        .sortWithinPartitions("rel_id", "head_id", "tail_id"),
        partition_by="rel_bucket").drop("rel_bucket")
    constraints = stage("type_constraints",
                        lambda: materialize.type_constraints(edges))

    return {
        "sentences": sentences,
        "triples": triples,
        "unique_entities": uniq_ents,
        "unique_relations": uniq_rels,
        "entity_clusters": clusters,
        "final_triples": final_triples,
        "entities": entities,
        "relations": relations,
        "edges": edges,
        "type_constraints": constraints,
    }
