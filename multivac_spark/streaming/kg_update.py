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
  aggregates the new files map-side and merges the deltas into
  versioned counts tables via ``foreachBatch``.

* The merge is the Iceberg ``MERGE INTO`` shape re-expressed for
  plain parquet: read current counts (vocabulary-bounded, much
  smaller than the corpus), ``union → groupBy-sum``, write a new
  version directory, then atomically swap a JSON manifest pointer.
  ``foreachBatch`` is at-least-once under retries, so the manifest
  records the last applied ``batch_id`` and re-applies are skipped —
  idempotent, hence exactly-once end to end.

* ``refresh_canonical_graph`` — rebuild the canonical graph from the
  maintained counts: top-N dictionaries come straight from the counts
  tables (NO scan of the triples table), clustering is bounded by the
  dictionary, and only the canonicalize join scans triples (on
  Iceberg that final join becomes a keyed MERGE of the delta; with
  plain parquet it is one broadcast-join pass).

Equivalence with the batch pipeline (same corpus → identical top-N
counts and final triples) is pinned in tests/test_kg_update.py and by
the ``kg_incremental_counts`` driver entry.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.manifest import read_json, write_json

TRIPLES_DDL = ("url string, sent_id int, rdf_idx int, "
               "subj string, pred string, obj string")

_MANIFEST = "_VERSION.json"


def _read_manifest(counts_dir: str) -> dict:
    return read_json(os.path.join(counts_dir, _MANIFEST),
                     {"version": -1, "last_batch_id": -1})


def _write_manifest(counts_dir: str, manifest: dict) -> None:
    # atomic swap: readers either see the old version or the new one
    write_json(os.path.join(counts_dir, _MANIFEST), manifest)


def _version_dirname(batch_id: int) -> str:
    """Version directory name derived from the batch id — a crashed
    merge (data written, manifest not swapped) leaves a directory whose
    name identifies exactly which batch produced it; the foreachBatch
    RETRY of that same batch overwrites the SAME directory and then
    swaps the manifest, so no orphan ever survives a completed retry."""
    return f"b{batch_id:09d}"


def read_counts(spark: SparkSession, counts_dir: str,
                table: str) -> DataFrame | None:
    """Current version of a counts table (``entities`` → (mention,
    cnt) or ``relations`` → (pred, cnt)); None before the first merge."""
    m = _read_manifest(counts_dir)
    if m["version"] < 0:
        return None
    return spark.read.parquet(os.path.join(counts_dir, m["dir"], table))


def merge_count_deltas(spark: SparkSession, counts_dir: str,
                       batch_id: int, ent_delta: DataFrame,
                       rel_delta: DataFrame) -> bool:
    """Merge per-batch count deltas into the next counts version.

    Returns False (no-op) when ``batch_id`` was already applied — the
    idempotence that upgrades foreachBatch's at-least-once to
    exactly-once under retries. Crash safety: the version directory is
    named for the batch (``_version_dirname``) and written BEFORE the
    manifest swap; a crash between the two leaves an uncommitted
    directory that the retry of the same batch overwrites in place —
    readers never observe it (they follow the manifest pointer)."""
    os.makedirs(counts_dir, exist_ok=True)
    m = _read_manifest(counts_dir)
    if batch_id <= m["last_batch_id"]:
        return False
    vdir_name = _version_dirname(batch_id)
    vdir = os.path.join(counts_dir, vdir_name)

    cur_ent = read_counts(spark, counts_dir, "entities")
    cur_rel = read_counts(spark, counts_dir, "relations")
    ent = (ent_delta if cur_ent is None
           else cur_ent.unionByName(ent_delta))
    rel = (rel_delta if cur_rel is None
           else cur_rel.unionByName(rel_delta))
    # vocabulary-bounded tables: the merge is O(vocab), not O(corpus)
    (ent.groupBy("mention").agg(F.sum("cnt").alias("cnt"))
        .write.mode("overwrite").parquet(os.path.join(vdir, "entities")))
    (rel.groupBy("pred").agg(F.sum("cnt").alias("cnt"))
        .write.mode("overwrite").parquet(os.path.join(vdir, "relations")))
    _write_manifest(counts_dir, {"version": m["version"] + 1,
                                 "last_batch_id": batch_id,
                                 "dir": vdir_name})
    return True


def counts_update_available_now(spark: SparkSession, triples_dir: str,
                                counts_dir: str,
                                checkpoint_dir: str) -> int:
    """Drain all un-merged triple files from ``triples_dir`` into the
    counts tables. Returns the number of merged micro-batches.

    Count semantics mirror materialize.top_entities/top_relations
    exactly: entities = subj+obj occurrences (explode, per-row, not
    distinct), relations = pred occurrences."""
    applied = 0

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal applied
        ent_delta = (batch_df
                     .select(F.explode(F.array("subj", "obj"))
                             .alias("mention"))
                     .groupBy("mention").agg(F.count("*").alias("cnt")))
        rel_delta = (batch_df.groupBy("pred")
                     .agg(F.count("*").alias("cnt")))
        if merge_count_deltas(batch_df.sparkSession, counts_dir,
                              batch_id, ent_delta, rel_delta):
            applied += 1

    stream = (spark.readStream
              .schema(TRIPLES_DDL)
              .option("maxFilesPerTrigger", 64)
              .parquet(triples_dir))
    q = (stream.writeStream
         .foreachBatch(merge)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return applied


def top_from_counts(counts: DataFrame, key: str, n: int | None) -> DataFrame:
    """Counts table → top-N dictionary with the batch tie-break
    (count desc, key asc — materialize.top_entities:42)."""
    if n is not None:
        counts = counts.orderBy(F.desc("cnt"), F.asc(key)).limit(n)
    return counts.select(key, "cnt")


def refresh_canonical_graph(spark: SparkSession, triples_dir: str,
                            counts_dir: str, embeddings: DataFrame,
                            top_n_ent: int | None = None,
                            top_n_rel: int | None = None,
                            threshold: float | None = None,
                            char_limit: int | None = None) -> DataFrame:
    """Maintained counts + ingested triples → canonical final triples,
    identical to the batch pipeline's ``final_triples`` on the same
    corpus (pinned in tests). Dictionaries come from the counts tables
    — no recount scan of the triples table."""
    from ..operators import canon, materialize

    top_n_ent = materialize.TOP_N_ENT if top_n_ent is None else top_n_ent
    top_n_rel = materialize.TOP_N_REL if top_n_rel is None else top_n_rel
    threshold = canon.DEFAULT_THRESHOLD if threshold is None else threshold
    char_limit = canon.CHAR_LIMIT if char_limit is None else char_limit

    ent_counts = read_counts(spark, counts_dir, "entities")
    rel_counts = read_counts(spark, counts_dir, "relations")
    if ent_counts is None:
        raise ValueError(f"no counts at {counts_dir}; run "
                         "counts_update_available_now first")
    uniq_ents = top_from_counts(ent_counts, "mention", top_n_ent)
    uniq_rels = top_from_counts(rel_counts, "pred", top_n_rel)
    clusters = canon.cluster_entities(
        uniq_ents.select("mention"), embeddings,
        threshold=threshold, char_limit=char_limit)
    triples = spark.read.schema(TRIPLES_DDL).parquet(triples_dir)
    return canon.canonicalize_triples(
        triples.select("subj", "pred", "obj"), clusters, uniq_rels)


def refresh_and_snapshot(spark: SparkSession, triples_dir: str,
                         counts_dir: str, embeddings: DataFrame,
                         snapshot_base: str,
                         batch_id: int | None = None, **kw) -> int:
    """Canonical refresh committed as the next version of the
    materialized triples table (``plans/snapshots``): each refresh
    becomes an immutable, time-travel-readable snapshot, and
    ``snapshots.diff`` answers "which triples did this refresh add or
    retract?" without touching the corpus — the Iceberg
    snapshot-commit shape the north rule assumes for the KG tables.
    Returns the committed version number."""
    from ..plans import snapshots

    final = refresh_canonical_graph(spark, triples_dir, counts_dir,
                                    embeddings, **kw)
    return snapshots.commit(spark, snapshot_base, final,
                            batch_id=batch_id)
