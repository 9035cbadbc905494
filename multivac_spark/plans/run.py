"""Materialized pipeline runner with stage-level resume.

``spark-submit --py-files multivac_spark.zip`` shape: the DAG of
``plans.pipeline`` with each of its seven checkpoint stages committed
by ``plans.lineage`` as a version of the ``plans.snapshots`` table
``<out_dir>/<stage>``. The first stage, ``triples``, is the one
extraction pass from documents to normalized triples; ``edges`` joins
the committed ``entities`` and ``relations``. A rerun with the same
(out_dir, run_id) skips completed stages and feeds their materialized
output to downstream stages (FIXTURES.md invariant #4) — no silent
recomputation of upstream work.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

# not called by the build, which normalizes inside the extraction pass;
# kept importable here for tools that wrap this name
from ..functions.normalize import normalize_triples  # noqa: F401
from . import lineage, tables
from .pipeline import STAGES, LazyTables, PipelineConfig, _tables


def run_materialized(spark: SparkSession,
                     documents: DataFrame,
                     embeddings: DataFrame,
                     out_dir: str,
                     run_id: str = "run0",
                     cfg: PipelineConfig | None = None
                     ) -> Mapping[str, DataFrame]:
    """The tables of ``run_pipeline`` for any ``PipelineConfig``, after
    committing (or resuming) every table in ``STAGES``, in this order,
    under ``out_dir``; the other tables stay lazy."""

    def commit(name: str, build) -> DataFrame:
        if name not in STAGES:
            return build()
        if name == "edges":
            return lineage.run_or_resume(
                spark, out_dir, run_id, name,
                lambda: tables.edges_layout(build()),
                partition_by="rel_bucket").drop("rel_bucket")
        return lineage.run_or_resume(spark, out_dir, run_id, name, build)

    thunks = _tables(documents, embeddings, cfg or PipelineConfig(), commit)
    for name in STAGES:
        thunks[name]()
    return LazyTables(thunks)
