"""Incremental KG maintenance (streaming/kg_update.py): exactly-once
count merging across drains, idempotent batch re-application, the
counts as one plans.snapshots table, and equivalence of the
incremental counts + canonical refresh with the batch pipeline over
the same corpus."""

import os
import tempfile

from pyspark.sql import functions as F

from multivac_spark.operators import materialize
from multivac_spark.plans import snapshots
from multivac_spark.plans.pipeline import (PipelineConfig,
                                           default_lexicons, run_pipeline)
from multivac_spark.sources import corpus, vocab
from multivac_spark.streaming.ingest import ingest_available_now
from multivac_spark.streaming.kg_update import (counts_update_available_now,
                                                merge_count_deltas,
                                                read_counts,
                                                refresh_canonical_graph)


def _ingest(spark, docs_dir, d, lex, lemmas, vl):
    return ingest_available_now(spark, docs_dir, f"{d}/triples",
                                f"{d}/ckpt_ingest", lex, lemmas,
                                normalize=True, verb_lemmas=vl)


def _assert_counts_are_batch_recount(spark, d, counts_dir):
    """read_counts == a recount over ALL ingested triples, computed
    here independently of materialize's count functions."""
    triples = spark.read.parquet(f"{d}/triples")
    recounts = {
        "entities": triples.select(F.explode(F.array("subj", "obj"))
                                   .alias("mention"))
        .groupBy("mention").count(),
        "relations": triples.groupBy("pred").count()}
    for table, key in (("entities", "mention"), ("relations", "pred")):
        got = {(r[key], r["cnt"])
               for r in read_counts(spark, counts_dir, table).collect()}
        exp = {(r[key], r["count"]) for r in recounts[table].collect()}
        assert got == exp and len(got) > 0, table


def test_incremental_counts_match_batch_recount(spark):
    lex, lemmas = default_lexicons()
    vl = vocab.verb_lemma_table()
    with tempfile.TemporaryDirectory() as d:
        docs_dir, counts_dir = f"{d}/docs", f"{d}/counts"

        # drain 1: first 40 docs
        corpus.documents_df(spark, 40, partitions=2) \
            .write.mode("append").parquet(docs_dir)
        assert _ingest(spark, docs_dir, d, lex, lemmas, vl) > 0
        assert counts_update_available_now(
            spark, f"{d}/triples", counts_dir, f"{d}/ckpt_counts") >= 1

        # drain 2: 40 more docs (disjoint urls)
        docs2 = corpus.documents_df(spark, 80, partitions=2)
        docs2.subtract(corpus.documents_df(spark, 40, partitions=2)) \
            .write.mode("append").parquet(docs_dir)
        assert _ingest(spark, docs_dir, d, lex, lemmas, vl) > 0
        assert counts_update_available_now(
            spark, f"{d}/triples", counts_dir, f"{d}/ckpt_counts") >= 1

        # incremental counts == batch recount over ALL ingested triples
        _assert_counts_are_batch_recount(spark, d, counts_dir)

        # third drain with nothing new: no new version
        v_before = counts_update_available_now(
            spark, f"{d}/triples", counts_dir, f"{d}/ckpt_counts")
        assert v_before == 0


def test_counts_are_a_snapshot_table(spark):
    """The counts are one plans.snapshots table: every merged
    micro-batch commits one snapshot carrying its batch id and expires
    the one it supersedes, so after N merges one version remains, with
    batch id N-1, and it reads back as the batch recount."""
    lex, lemmas = default_lexicons()
    vl = vocab.verb_lemma_table()
    first = corpus.documents_df(spark, 20, partitions=2)
    rest = corpus.documents_df(spark, 40, partitions=2).subtract(first)
    with tempfile.TemporaryDirectory() as d:
        docs_dir, counts_dir = f"{d}/docs", f"{d}/counts"
        merged = 0
        for docs in (first, rest):
            docs.write.mode("append").parquet(docs_dir)
            assert _ingest(spark, docs_dir, d, lex, lemmas, vl) > 0
            merged += counts_update_available_now(
                spark, f"{d}/triples", counts_dir, f"{d}/ckpt_counts")
        assert merged >= 2
        hist = snapshots.history(counts_dir)
        assert [h["version"] for h in hist] == [merged - 1]
        assert [h["batch_id"] for h in hist] == [merged - 1]
        assert snapshots.current_version(counts_dir) == merged - 1
        assert sorted(x for x in os.listdir(counts_dir)
                      if os.path.isdir(os.path.join(counts_dir, x))) == [
            f"v{merged - 1:09d}"]
        _assert_counts_are_batch_recount(spark, d, counts_dir)


def test_merge_is_idempotent_per_batch_id(spark):
    with tempfile.TemporaryDirectory() as d:
        delta_e = spark.createDataFrame([("a", 2), ("b", 1)],
                                        "mention string, cnt long")
        delta_r = spark.createDataFrame([("r", 3)], "pred string, cnt long")
        assert merge_count_deltas(spark, d, 0, delta_e, delta_r)
        # retry of the SAME batch (foreachBatch at-least-once) → no-op
        assert not merge_count_deltas(spark, d, 0, delta_e, delta_r)
        got = {(r["mention"], r["cnt"])
               for r in read_counts(spark, d, "entities").collect()}
        assert got == {("a", 2), ("b", 1)}
        # next batch merges additively
        assert merge_count_deltas(spark, d, 1, delta_e, delta_r)
        got = {(r["mention"], r["cnt"])
               for r in read_counts(spark, d, "entities").collect()}
        assert got == {("a", 4), ("b", 2)}


def test_merge_crash_between_write_and_swap_leaves_no_ambiguity(spark,
                                                               monkeypatch):
    """Kill the merge AFTER the data write but BEFORE the snapshot
    manifest swap: the manifest must be unchanged, readers must still
    see the previous counts, and the retry of the same batch must
    overwrite the SAME version directory and commit — then the one
    surviving data dir, pointed to by the manifest."""
    with tempfile.TemporaryDirectory() as d:
        delta_e = spark.createDataFrame([("a", 2)], "mention string, cnt long")
        delta_r = spark.createDataFrame([("r", 3)], "pred string, cnt long")
        assert merge_count_deltas(spark, d, 0, delta_e, delta_r)
        committed = snapshots._read_manifest(d)

        def crash(*a, **k):
            raise RuntimeError("injected crash before manifest swap")

        monkeypatch.setattr(snapshots, "_write_manifest", crash)
        try:
            merge_count_deltas(spark, d, 1, delta_e, delta_r)
        except RuntimeError:
            pass
        # manifest still points at batch 0; readers unaffected
        assert snapshots._read_manifest(d) == committed
        got = {(r["mention"], r["cnt"])
               for r in read_counts(spark, d, "entities").collect()}
        assert got == {("a", 2)}
        # the orphan is named for the attempted version — the retry
        # will reuse it
        assert os.path.isdir(os.path.join(d, "v000000001"))

        monkeypatch.undo()
        assert merge_count_deltas(spark, d, 1, delta_e, delta_r)
        m = snapshots._read_manifest(d)
        assert m["last_batch_id"] == 1 and m["current"] == 1
        assert m["snapshots"][-1]["dir"] == "v000000001"
        got = {(r["mention"], r["cnt"])
               for r in read_counts(spark, d, "entities").collect()}
        assert got == {("a", 4)}
        # the committed batch's one data dir: the superseded version is
        # expired, and no stray attempt survives
        dirs = sorted(x for x in os.listdir(d)
                      if os.path.isdir(os.path.join(d, x)))
        assert dirs == ["v000000001"]


def test_refresh_matches_batch_pipeline(spark):
    lex, lemmas = default_lexicons()
    vl = vocab.verb_lemma_table()
    emb = corpus.embeddings_df(spark)
    with tempfile.TemporaryDirectory() as d:
        docs_dir, counts_dir = f"{d}/docs", f"{d}/counts"
        docs = corpus.documents_df(spark, 60, partitions=2)
        docs.write.mode("append").parquet(docs_dir)
        _ingest(spark, docs_dir, d, lex, lemmas, vl)
        counts_update_available_now(spark, f"{d}/triples", counts_dir,
                                    f"{d}/ckpt_counts")

        inc_final = refresh_canonical_graph(
            spark, f"{d}/triples", counts_dir, emb)
        batch_final = run_pipeline(spark, docs, emb,
                                   PipelineConfig())["final_triples"]
        got = {tuple(r) for r in inc_final.collect()}
        exp = {tuple(r) for r in batch_final.collect()}
        assert got == exp and len(got) > 0

        # and the dictionaries themselves agree with the batch top-N
        triples = spark.read.parquet(f"{d}/triples")
        batch_top = {(r["mention"], r["cnt"]) for r in
                     materialize.top_entities(triples, 100).collect()}
        inc_top = {(r["mention"], r["cnt"]) for r in materialize.top_n(
            read_counts(spark, counts_dir, "entities"),
            "mention", 100).collect()}
        assert inc_top == batch_top
