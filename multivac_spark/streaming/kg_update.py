"""Incremental KG maintenance over the streaming-ingested triples table.

The reference rebuilds its dictionaries and graph from scratch every
run (rdf_graph.py builds Counters over the full tuple list). At
100 TB the from-scratch recount is the bottleneck: counting is O(all
triples ever ingested) per refresh. This module keeps the dictionary
counts INCREMENTALLY — each drain touches only the new triple files —
so a refresh pays O(new data + vocabulary), never O(corpus):

* ``counts_update_available_now`` — a second AvailableNow stream over
  the raw-triples directory (the output of ``ingest_available_now``).
  Its file-source checkpoint tracks which triple files have been
  count-merged (exactly-once at the file level); each micro-batch
  aggregates the new files map-side and merges the deltas into the
  versioned counts table via ``foreachBatch``.

* The merge is the Iceberg ``MERGE INTO`` shape re-expressed for
  plain parquet: the counts are ONE ``plans.snapshots`` table
  ``(kind, key, cnt)`` (kind ``mention`` or ``pred``), so a batch's
  entity and relation counts commit atomically together. Each merge
  unions the current snapshot (vocabulary-bounded, much smaller than
  the corpus) with the batch's deltas, sums by ``(kind, key)``,
  commits the next snapshot with the batch id and expires the one it
  supersedes. ``foreachBatch`` is
  at-least-once under retries; ``snapshots.commit`` skips an
  already-applied batch id, so the merge is exactly-once end to end.

* ``refresh_canonical_graph`` — the batch pipeline DAG
  (``plans.pipeline._tables``) with three tables supplied: the
  ingested triples, and the top-N dictionaries taken straight from
  the maintained counts (NO recount scan of the triples table).
  Clustering is bounded by the dictionary, and only the canonicalize
  join scans triples (on Iceberg that final join becomes a keyed
  MERGE of the delta; with plain parquet it is one broadcast-join
  pass).

Equivalence with the batch pipeline (same corpus → identical top-N
counts and final triples) is pinned in tests/test_kg_update.py and by
the ``kg_incremental_counts`` driver entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.svo import TRIPLES_SCHEMA as TRIPLES_DDL
from ..operators.materialize import entity_counts, relation_counts, top_n
from ..plans import snapshots
from ..plans.pipeline import PipelineConfig, _tables
from .ingest import read_stream

# counts table → the key column of its kind in the (kind, key, cnt) table
_KEYS = {"entities": "mention", "relations": "pred"}


def read_counts(spark: SparkSession, counts_dir: str,
                table: str) -> DataFrame | None:
    """Current version of a counts table (``entities`` → (mention,
    cnt) or ``relations`` → (pred, cnt)); None before the first merge."""
    if snapshots.current_version(counts_dir) < 0:
        return None
    key = _KEYS[table]
    return (snapshots.read(spark, counts_dir)
            .filter(F.col("kind") == key)
            .select(F.col("key").alias(key), "cnt"))


def merge_count_deltas(spark: SparkSession, counts_dir: str,
                       batch_id: int, ent_delta: DataFrame,
                       rel_delta: DataFrame) -> bool:
    """Merge per-batch count deltas into the next counts snapshot.

    Returns False (no-op) when ``batch_id`` was already applied — the
    idempotence that upgrades foreachBatch's at-least-once to
    exactly-once under retries. Crash safety is ``snapshots.commit``'s:
    a crash between the data write and the manifest swap leaves an
    uncommitted version directory that the retry of the same batch
    overwrites in place; readers follow the manifest and never see it.
    After each commit the superseded version is expired, so the table
    keeps one data copy however many batches merge."""
    before = snapshots.current_version(counts_dir)
    merged = (ent_delta.select(F.lit("mention").alias("kind"),
                               F.col("mention").alias("key"), "cnt")
              .unionByName(rel_delta.select(F.lit("pred").alias("kind"),
                                            F.col("pred").alias("key"),
                                            "cnt")))
    if before >= 0:
        merged = snapshots.read(spark, counts_dir).unionByName(merged)
    # vocabulary-bounded table: the merge is O(vocab), not O(corpus)
    merged = merged.groupBy("kind", "key").agg(F.sum("cnt").alias("cnt"))
    if snapshots.commit(spark, counts_dir, merged,
                        batch_id=batch_id) == before:
        return False
    # the superseded copies are expired, as a build stage's are; the
    # manifest's last_batch_id still keeps the merge exactly-once
    snapshots.expire(counts_dir, keep_last=1)
    return True


def counts_update_available_now(spark: SparkSession, triples_dir: str,
                                counts_dir: str,
                                checkpoint_dir: str) -> int:
    """Drain all un-merged triple files from ``triples_dir`` into the
    counts table. Returns the number of merged micro-batches. The
    deltas are ``materialize.entity_counts`` / ``relation_counts``,
    the counts the batch top-N dictionaries are cut from."""
    applied = 0

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal applied
        if merge_count_deltas(batch_df.sparkSession, counts_dir, batch_id,
                              entity_counts(batch_df),
                              relation_counts(batch_df)):
            applied += 1

    q = (read_stream(spark, TRIPLES_DDL, triples_dir).writeStream
         .foreachBatch(merge)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return applied


def refresh_canonical_graph(spark: SparkSession, triples_dir: str,
                            counts_dir: str,
                            embeddings: DataFrame) -> DataFrame:
    """Maintained counts + ingested triples → canonical final triples:
    the default batch build's ``final_triples``, with the ingested
    triples and the counts' top-N dictionaries supplied to the DAG —
    no recount scan of the triples table."""
    cfg = PipelineConfig()
    ent_counts = read_counts(spark, counts_dir, "entities")
    if ent_counts is None:
        raise ValueError(f"no counts at {counts_dir}; run "
                         "counts_update_available_now first")
    supplied = {
        "triples": spark.read.schema(TRIPLES_DDL).parquet(triples_dir),
        "unique_entities": top_n(ent_counts, "mention", cfg.top_n_ent),
        "unique_relations": top_n(
            read_counts(spark, counts_dir, "relations"), "pred",
            cfg.top_n_rel),
    }

    def commit(name: str, build) -> DataFrame:
        return supplied[name] if name in supplied else build()

    return _tables(None, embeddings, cfg, commit)["final_triples"]()


def refresh_and_snapshot(spark: SparkSession, triples_dir: str,
                         counts_dir: str, embeddings: DataFrame,
                         snapshot_base: str,
                         batch_id: int | None = None) -> int:
    """Canonical refresh committed as the next version of the
    materialized triples table (``plans/snapshots``): each refresh
    becomes an immutable, time-travel-readable snapshot, and
    ``snapshots.diff`` answers "which triples did this refresh add or
    retract?" without touching the corpus — the Iceberg
    snapshot-commit shape the north rule assumes for the KG tables.
    Returns the committed version number."""
    final = refresh_canonical_graph(spark, triples_dir, counts_dir,
                                    embeddings)
    return snapshots.commit(spark, snapshot_base, final,
                            batch_id=batch_id)
