"""Snapshot layer (plans/snapshots.py): commit / time travel /
rollback / diff / expire with Iceberg semantics on plain parquet,
crash injection at both commit and expire boundaries, and the
end-to-end versioned-KG flow (refresh → snapshot → diff refreshes)."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from multivac_spark.plans import snapshots


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_commit_read_history_timetravel(spark):
    with tempfile.TemporaryDirectory() as d:
        a = [("a", "r", "b")]
        b = a + [("c", "r", "d")]
        c = [("c", "r", "d"), ("e", "s", "f")]
        assert snapshots.commit(spark, d, _df(spark, a)) == 0
        assert snapshots.commit(spark, d, _df(spark, b)) == 1
        assert snapshots.commit(spark, d, _df(spark, c)) == 2

        assert snapshots.current_version(d) == 2
        assert _rows(snapshots.read(spark, d)) == sorted(c)
        # time travel to every retained version
        assert _rows(snapshots.read(spark, d, version=0)) == sorted(a)
        assert _rows(snapshots.read(spark, d, version=1)) == sorted(b)

        h = snapshots.history(d)
        assert [s["version"] for s in h] == [0, 1, 2]
        assert [s["parent"] for s in h] == [-1, 0, 1]

        with pytest.raises(KeyError):
            snapshots.read(spark, d, version=99)


def test_commit_idempotent_per_batch_id(spark):
    with tempfile.TemporaryDirectory() as d:
        v0 = snapshots.commit(spark, d, _df(spark, [("a", "r", "b")]),
                              batch_id=0)
        # foreachBatch retry of the same batch → no-op, same version
        v_retry = snapshots.commit(spark, d, _df(spark, [("x", "x", "x")]),
                                   batch_id=0)
        assert v0 == v_retry == 0
        assert _rows(snapshots.read(spark, d)) == [("a", "r", "b")]
        assert snapshots.commit(spark, d, _df(spark, [("c", "r", "d")]),
                                batch_id=1) == 1


def test_read_runs_no_spark_job(spark):
    """A read follows the manifest and the recorded schema: building the
    frame (before any action) submits no Spark job."""
    with tempfile.TemporaryDirectory() as d:
        snapshots.commit(spark, d, _df(spark, [("a", "r", "b")]))
        sc = spark.sparkContext
        sc.setJobGroup("snapshots-read", "snapshots.read")
        try:
            df = snapshots.read(spark, d)
            snapshots.read(spark, d, version=0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(
            "snapshots-read")) == []
        assert _rows(df) == [("a", "r", "b")]


def _layouts(spark):
    """A plain table, a nested ``array<struct>`` one and a partitioned
    one whose ``int`` partition column (as the edges' ``rel_bucket``)
    sits mid-schema. A ``long`` partition column reads back as
    ``long``, where inference guesses ``int`` from the directory
    names."""
    plain = _df(spark, [("a", "r", "b"), ("c", "s", None)])
    nested = spark.createDataFrame(
        [(1, [("x", 1.5), ("y", None)]), (2, None), (3, [])],
        "id long, toks array<struct<w: string, v: double>>")
    parted = (spark.range(40)
              .withColumn("b", (F.col("id") % 4).cast("int"))
              .withColumn("s", F.col("id").cast("string")))
    return {"plain": (plain, None), "nested": (nested, None),
            "partitioned": (parted, "b")}


@pytest.mark.parametrize("layout", ["plain", "nested", "partitioned"])
def test_read_schema_matches_inference(spark, layout):
    df, partition_by = _layouts(spark)[layout]
    with tempfile.TemporaryDirectory() as d:
        snapshots.commit(spark, d, df, partition_by=partition_by)
        [e] = snapshots.history(d)
        inferred = spark.read.parquet(os.path.join(d, e["dir"], "data"))
        got = snapshots.read(spark, d)
        assert got.schema == inferred.schema
        assert sorted(got.collect()) == sorted(inferred.collect())


def test_history_rows_match_count(spark):
    with tempfile.TemporaryDirectory() as d:
        for n in (0, 7, 300):
            snapshots.commit(spark, d, spark.range(n).repartition(3))
        h = snapshots.history(d)
        assert [e["rows"] for e in h] == [0, 7, 300]
        for e in h:
            assert e["rows"] == snapshots.read(spark, d, e["version"]).count()
            assert snapshots.intact(d, e)


def test_diff_bag_semantics(spark):
    with tempfile.TemporaryDirectory() as d:
        # multiplicity 3 -> 1 must surface as TWO removed copies
        old = [("a", "r", "b")] * 3 + [("g", "r", "h")]
        new = [("a", "r", "b")] + [("c", "r", "d")]
        snapshots.commit(spark, d, _df(spark, old))
        snapshots.commit(spark, d, _df(spark, new))
        delta = snapshots.diff(spark, d, 0, 1)
        got = sorted(tuple(r) for r in delta.collect())
        assert got == sorted([
            ("c", "r", "d", "added"),
            ("a", "r", "b", "removed"),
            ("a", "r", "b", "removed"),
            ("g", "r", "h", "removed"),
        ])


def test_rollback_then_commit_continues_above(spark):
    with tempfile.TemporaryDirectory() as d:
        a, b, c = [("v0", "r", "x")], [("v1", "r", "x")], [("v2", "r", "x")]
        snapshots.commit(spark, d, _df(spark, a))
        snapshots.commit(spark, d, _df(spark, b))
        snapshots.rollback(d, 0)
        assert snapshots.current_version(d) == 0
        assert _rows(snapshots.read(spark, d)) == sorted(a)
        # abandoned v1 stays time-travel-readable until expired
        assert _rows(snapshots.read(spark, d, version=1)) == sorted(b)
        # next commit continues ABOVE every existing version, parent = 0
        assert snapshots.commit(spark, d, _df(spark, c)) == 2
        h = {s["version"]: s for s in snapshots.history(d)}
        assert h[2]["parent"] == 0
        with pytest.raises(KeyError):
            snapshots.rollback(d, 99)


def test_expire_keeps_current_even_if_old(spark):
    with tempfile.TemporaryDirectory() as d:
        for i in range(4):
            snapshots.commit(spark, d, _df(spark, [(f"v{i}", "r", "x")]))
        snapshots.rollback(d, 0)  # current is now the OLDEST snapshot
        expired = snapshots.expire(d, keep_last=2)
        assert expired == [1]  # v0 kept (current), v2+v3 kept (newest 2)
        assert {s["version"] for s in snapshots.history(d)} == {0, 2, 3}
        assert _rows(snapshots.read(spark, d)) == [("v0", "r", "x")]
        assert not os.path.isdir(os.path.join(d, "v000000001"))
        with pytest.raises(KeyError):
            snapshots.read(spark, d, version=1)


def test_commit_crash_before_swap_retry_commits(spark, monkeypatch):
    """Crash AFTER the data write, BEFORE the manifest swap: readers
    keep the previous snapshot; the retry reuses the SAME version
    directory and commits; exactly one data dir per version."""
    with tempfile.TemporaryDirectory() as d:
        snapshots.commit(spark, d, _df(spark, [("a", "r", "b")]))

        real_write = snapshots._write_manifest

        def crash(*a, **k):
            raise RuntimeError("injected crash before manifest swap")

        monkeypatch.setattr(snapshots, "_write_manifest", crash)
        with pytest.raises(RuntimeError):
            snapshots.commit(spark, d, _df(spark, [("c", "r", "d")]))
        assert snapshots.current_version(d) == 0
        assert _rows(snapshots.read(spark, d)) == [("a", "r", "b")]
        # the uncommitted dir is version-named; the retry reuses it
        assert os.path.isdir(os.path.join(d, "v000000001"))

        monkeypatch.setattr(snapshots, "_write_manifest", real_write)
        assert snapshots.commit(spark, d, _df(spark, [("c", "r", "d")])) == 1
        assert _rows(snapshots.read(spark, d)) == [("c", "r", "d")]
        dirs = sorted(x for x in os.listdir(d)
                      if os.path.isdir(os.path.join(d, x)))
        assert dirs == ["v000000000", "v000000001"]


def test_expire_crash_between_manifest_and_delete_is_idempotent(
        spark, monkeypatch):
    """Crash AFTER the manifest rewrite, BEFORE the data delete: the
    expired version is already unreadable (metadata-first), and a
    re-run of expire removes the orphan directory — nothing
    resurrects."""
    with tempfile.TemporaryDirectory() as d:
        for i in range(3):
            snapshots.commit(spark, d, _df(spark, [(f"v{i}", "r", "x")]))

        import shutil as _shutil
        import types

        def crash(path):
            raise RuntimeError("injected crash before data delete")

        # patch the snapshots module's shutil reference only — the real
        # shutil stays intact for tempfile cleanup
        monkeypatch.setattr(snapshots, "shutil",
                            types.SimpleNamespace(rmtree=crash))
        with pytest.raises(RuntimeError):
            snapshots.expire(d, keep_last=2)
        # metadata-first: v0 already gone from history, dir orphaned
        assert {s["version"] for s in snapshots.history(d)} == {1, 2}
        assert os.path.isdir(os.path.join(d, "v000000000"))
        with pytest.raises(KeyError):
            snapshots.read(spark, d, version=0)

        monkeypatch.setattr(snapshots, "shutil", _shutil)
        assert snapshots.expire(d, keep_last=2) == []  # nothing NEW expires
        assert not os.path.isdir(os.path.join(d, "v000000000"))


def test_kg_refresh_snapshot_diff(spark):
    """End-to-end versioned KG: two ingest+refresh cycles become two
    snapshots of the materialized triples table, and snapshots.diff
    reports exactly the triples the second refresh added/retracted —
    verified against the full recomputed sets."""
    from multivac_spark.plans.pipeline import default_lexicons
    from multivac_spark.sources import corpus, vocab
    from multivac_spark.streaming.ingest import ingest_available_now
    from multivac_spark.streaming.kg_update import (
        counts_update_available_now, refresh_and_snapshot)

    lex, lemmas = default_lexicons()
    vl = vocab.verb_lemma_table()
    emb = corpus.embeddings_df(spark)
    with tempfile.TemporaryDirectory() as d:
        docs_dir, counts_dir, snap = f"{d}/docs", f"{d}/counts", f"{d}/kg"

        def cycle(batch_id):
            ingest_available_now(spark, docs_dir, f"{d}/triples",
                                 f"{d}/ckpt_ingest", lex, lemmas,
                                 normalize=True, verb_lemmas=vl)
            counts_update_available_now(spark, f"{d}/triples", counts_dir,
                                        f"{d}/ckpt_counts")
            return refresh_and_snapshot(spark, f"{d}/triples", counts_dir,
                                        emb, snap, batch_id=batch_id)

        corpus.documents_df(spark, 40, partitions=2) \
            .write.mode("append").parquet(docs_dir)
        assert cycle(0) == 0

        docs2 = corpus.documents_df(spark, 80, partitions=2)
        docs2.subtract(corpus.documents_df(spark, 40, partitions=2)) \
            .write.mode("append").parquet(docs_dir)
        assert cycle(1) == 1

        v0 = {tuple(r) for r in snapshots.read(spark, snap, 0).collect()}
        v1 = {tuple(r) for r in snapshots.read(spark, snap, 1).collect()}
        assert len(v1) > len(v0) > 0

        delta = snapshots.diff(spark, snap, 0, 1).collect()
        added = {tuple(r)[:3] for r in delta if r["change"] == "added"}
        removed = {tuple(r)[:3] for r in delta if r["change"] == "removed"}
        assert added == v1 - v0
        assert removed == v0 - v1


def test_sparql_time_travel_over_snapshots(spark):
    """SPARQL over snapshot versions = time-travel graph queries: the
    same query text answers against any retained KG state, and a
    CONSTRUCT rule over diff() derives triples only for the refresh's
    new facts."""
    from multivac_spark.operators.sparql import sparql

    with tempfile.TemporaryDirectory() as d:
        v0 = [("ebola", "infect", "cell"), ("cell", "contain", "genome")]
        v1 = v0 + [("drug", "inhibit", "ebola"),
                   ("virus x", "infect", "cell")]
        snapshots.commit(spark, d, _df(spark, v0))
        snapshots.commit(spark, d, _df(spark, v1))

        q = 'SELECT ?s WHERE { ?s "infect" ?x . ?x "contain" ?g }'
        then = sparql(snapshots.read(spark, d, version=0), q)
        now = sparql(snapshots.read(spark, d), q)
        assert _rows(then) == [("ebola",)]
        assert _rows(now) == [("ebola",), ("virus x",)]

        # enrichment rule applied ONLY to the refresh's added triples
        added = (snapshots.diff(spark, d, 0, 1)
                 .filter("change = 'added'").select("subj", "pred", "obj"))
        derived = sparql(added, '''
            CONSTRUCT { ?o "inhibited_by" ?s } WHERE { ?s "inhibit" ?o }''')
        assert _rows(derived) == [("ebola", "inhibited_by", "drug")]
