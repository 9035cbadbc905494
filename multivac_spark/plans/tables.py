"""Graph-table storage layout: Iceberg when a catalog is configured,
layout-equivalent parquet otherwise.

The north rule materializes the KG as Iceberg triple/entity/edge
tables with salted repartitioning on predicate keys. This module
writes that layout through either engine:

* **Iceberg path** (`spark.sql.catalog.*` configured, iceberg-spark
  runtime jar on the cluster): ``df.writeTo(ident).partitionedBy(
  bucket(N, rel_id))`` — a hidden-partition bucket transform, the
  canonical Iceberg answer to Zipfian predicate skew; its snapshot
  commits are what ``plans.snapshots`` reproduces on plain parquet.
* **Parquet fallback** (no Iceberg jar on the classpath): ``edges_layout``
  — an explicit ``rel_bucket = pmod(hash(rel_id), N)`` partition
  column + a ``(rel_id, salt)`` repartition + ``sortWithinPartitions(
  rel_id, head_id, tail_id)`` — written with ``partitionBy(rel_bucket)``:
  the same physical layout (bounded files per bucket, clustered scans,
  predicate pruning on bucket) minus snapshot isolation. The batch
  build (``plans.run``) commits its edges stage in this layout too.

Reads reverse the mapping so downstream code sees identical columns
either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import materialize

REL_BUCKETS = 16


def iceberg_catalog(spark: SparkSession) -> str | None:
    """First configured Iceberg catalog name, or None. Detection is by
    the public config contract: ``spark.sql.catalog.<name>`` set to an
    Iceberg SparkCatalog implementation."""
    try:
        all_conf = spark.sparkContext.getConf().getAll()
    except Exception:
        return None
    for k, v in all_conf:
        if (k.startswith("spark.sql.catalog.")
                and k.count(".") == 3 and "iceberg" in v.lower()):
            return k.rsplit(".", 1)[1]
    return None


def edges_layout(edges: DataFrame,
                 rel_buckets: int = REL_BUCKETS) -> DataFrame:
    """edges(head_id, tail_id, rel_id) → the same rows plus the
    ``rel_bucket`` partition column, repartitioned by (rel_id, salt) so
    a hot predicate spreads over several writers instead of pinning
    one, and sorted within partitions for clustered scans."""
    return (materialize.salted(
        edges.withColumn("rel_bucket",
                         F.pmod(F.hash("rel_id"), F.lit(rel_buckets))),
        "rel_id")
        .sortWithinPartitions("rel_id", "head_id", "tail_id"))


def write_edges(spark: SparkSession, edges: DataFrame, base: str,
                name: str = "edges",
                rel_buckets: int = REL_BUCKETS) -> str:
    """edges(head_id, tail_id, rel_id) → bucketed table; returns the
    location (table identifier or path)."""
    cat = iceberg_catalog(spark)
    if cat is not None:
        ident = f"{cat}.kg.{name}"
        (edges.writeTo(ident)
         .partitionedBy(F.bucket(rel_buckets, F.col("rel_id")))
         .createOrReplace())
        return ident

    path = os.path.join(base, name)
    (edges_layout(edges, rel_buckets)
     .write.mode("overwrite").partitionBy("rel_bucket").parquet(path))
    return path


def read_edges(spark: SparkSession, location: str) -> DataFrame:
    """Location from write_edges → edges(head_id, tail_id, rel_id).
    Filtering on rel_id prunes partitions in the parquet layout when
    the caller also filters the derived rel_bucket; Iceberg's hidden
    bucket transform prunes from rel_id alone."""
    if "/" not in location and "." in location:
        return spark.table(location)
    return spark.read.parquet(location).drop("rel_bucket")


def write_plain(spark: SparkSession, df: DataFrame, base: str,
                name: str) -> str:
    """Unbucketed dictionary tables (entities / relations)."""
    cat = iceberg_catalog(spark)
    if cat is not None:
        ident = f"{cat}.kg.{name}"
        df.writeTo(ident).createOrReplace()
        return ident
    path = os.path.join(base, name)
    df.write.mode("overwrite").parquet(path)
    return path


def write_graph_tables(spark: SparkSession, tables: dict[str, DataFrame],
                       base: str) -> dict[str, str]:
    """Materialize entities/relations/edges in the bucketed layout."""
    return {
        "entities": write_plain(spark, tables["entities"], base, "entities"),
        "relations": write_plain(spark, tables["relations"], base,
                                 "relations"),
        "edges": write_edges(spark, tables["edges"], base),
    }
