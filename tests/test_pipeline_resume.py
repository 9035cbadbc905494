"""End-to-end pipeline + resume invariant (FIXTURES.md #4): a rerun with
the same run_id reproduces identical tables without recomputing, and no
duplicate stage versions appear for completed stages."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from multivac_spark.plans import lineage, snapshots
from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline
from multivac_spark.plans.run import run_materialized
from multivac_spark.sources import corpus

STAGES = {"triples", "entity_clusters", "final_triples", "entities",
          "relations", "edges", "type_constraints"}


@pytest.fixture(scope="module")
def out_dir():
    with tempfile.TemporaryDirectory() as d:
        yield d


@pytest.fixture(scope="module")
def first_run(spark, out_dir):
    docs = corpus.documents_df(spark, 120, partitions=4)
    emb = corpus.embeddings_df(spark)
    cfg = PipelineConfig(top_n_ent=2000, top_n_rel=50)
    return run_materialized(spark, docs, emb, out_dir, "runA", cfg), cfg


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _attempts(base):
    """(stage, history entry) for every version of every stage table."""
    return [(stage, e) for stage in sorted(os.listdir(base))
            for e in snapshots.history(os.path.join(base, stage))]


def test_pipeline_end_to_end(spark, first_run):
    tables, _ = first_run
    n_triples = tables["triples"].count()
    n_final = tables["final_triples"].count()
    n_edges = tables["edges"].count()
    assert n_triples > 100
    assert 0 < n_final <= n_triples
    assert n_edges == n_final
    # every edge id resolves
    ents = tables["entities"]
    assert (tables["edges"]
            .join(ents, F.col("head_id") == F.col("entity_id"), "left_anti")
            .count()) == 0
    # canonicalization actually merged variant mentions
    n_mentions = tables["entity_clusters"].count()
    n_clusters = tables["entity_clusters"].select("label").distinct().count()
    assert n_clusters < n_mentions


def test_resume_reproduces_identical_tables(spark, out_dir, first_run):
    tables, cfg = first_run
    before = {k: _rows(tables[k])
              for k in ("triples", "final_triples", "edges", "entities")}

    # resume: same run_id; documents arg is a *poisoned* DataFrame that
    # would fail if any stage recomputed from scratch
    poison = spark.createDataFrame([], corpus.DOCUMENTS_SCHEMA)
    emb = corpus.embeddings_df(spark)
    resumed = run_materialized(spark, poison, emb, out_dir, "runA", cfg)
    after = {k: _rows(resumed[k])
             for k in ("triples", "final_triples", "edges", "entities")}
    assert before == after


def test_no_duplicate_lineage_markers(spark, out_dir, first_run):
    # one entry per committed stage, also after the resume above
    stages = [(e["meta"]["run_id"], s) for s, e in _attempts(out_dir)]
    assert len(stages) == len(set(stages))
    assert {s for _, s in stages} == STAGES


def test_committed_stages_match_spark_oracle(spark, out_dir, first_run):
    """Every committed stage of a real build: the footer row counts sum
    to Spark's count, and the recorded schema is the one Spark infers."""
    for stage, e in _attempts(out_dir):
        inferred = spark.read.parquet(
            os.path.join(out_dir, stage, e["dir"], "data"))
        assert e["rows"] == inferred.count(), stage
        pinned = lineage.run_or_resume(spark, out_dir, "runA", stage,
                                       lambda: pytest.fail("recomputed"))
        assert pinned.schema == inferred.schema, stage


def _crash_before_swap(monkeypatch):
    def crash(*a, **k):
        raise RuntimeError("injected crash before manifest swap")

    monkeypatch.setattr(snapshots, "_write_manifest", crash)


def _counting(df, calls):
    return lambda: (calls.append(1), df)[1]


def test_crash_after_write_before_swap_recomputes(spark, monkeypatch):
    """The output is fully written (``_SUCCESS`` present) but the
    manifest swap never happened: the stage is not complete, and the
    next call recomputes it."""
    df = spark.range(100).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as d:
        with monkeypatch.context() as mp:
            _crash_before_swap(mp)
            with pytest.raises(RuntimeError):
                lineage.run_or_resume(spark, d, "r", "stg", lambda: df)
        assert os.path.exists(f"{d}/stg/v000000000/data/_SUCCESS")
        assert not lineage.stage_complete(spark, d, "r", "stg")

        calls = []
        lineage.run_or_resume(spark, d, "r", "stg", _counting(df, calls))
        assert calls == [1]
        assert lineage.stage_complete(spark, d, "r", "stg")


def test_overwritten_output_of_older_entry_recomputes(spark):
    """A complete entry whose files were since overwritten (same total
    rows, different files) no longer describes the output: recompute."""
    df = spark.range(100).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as d:
        lineage.run_or_resume(spark, d, "r", "stg", lambda: df)
        assert lineage.stage_complete(spark, d, "r", "stg")
        data = f"{d}/stg/v000000000/data"
        assert len(snapshots.footer_rows(data)) > 1
        df.coalesce(1).write.mode("overwrite").parquet(data)
        assert os.path.exists(f"{data}/_SUCCESS")
        assert snapshots.current_version(f"{d}/stg") == 0
        assert not lineage.stage_complete(spark, d, "r", "stg")

        calls = []
        lineage.run_or_resume(spark, d, "r", "stg", _counting(df, calls))
        assert calls == [1]
        assert lineage.stage_complete(spark, d, "r", "stg")


def test_crash_retry_converges(spark, monkeypatch):
    """A newer attempt writes over a committed stage and crashes before
    its manifest swap. It writes its own version directory, so the
    committed version stays complete and a resume does not recompute;
    a later run's commit reuses the crashed directory and validates on
    its own (latest attempt), not against the older entry (VERDICT r1
    'what's wrong' — lineage self-defeat)."""
    df = spark.range(100).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as d:
        lineage.run_or_resume(spark, d, "r", "stg", lambda: df)
        # attempt 2: a new version, then crash before the swap
        with monkeypatch.context() as mp:
            _crash_before_swap(mp)
            with pytest.raises(RuntimeError):
                snapshots.commit(spark, f"{d}/stg", df.repartition(3),
                                 meta={"run_id": "r"})
        assert os.path.isdir(f"{d}/stg/v000000001/data")
        assert lineage.stage_complete(spark, d, "r", "stg")

        # attempt 3: the real API resumes without recomputing
        calls = []
        got = lineage.run_or_resume(spark, d, "r", "stg",
                                    _counting(df, calls))
        assert calls == []
        assert got.count() == 100

        # a later run commits over the crashed directory; its entry
        # alone is complete, and a further run resumes from it
        calls2 = []
        lineage.run_or_resume(spark, d, "r2", "stg", _counting(df, calls2))
        assert calls2 == [1]
        assert [e["version"] for _, e in _attempts(d)] == [1]
        assert sorted(os.listdir(f"{d}/stg")) == ["_SNAPSHOTS.json",
                                                   "v000000001"]
        assert lineage.stage_complete(spark, d, "r2", "stg")
        assert not lineage.stage_complete(spark, d, "r", "stg")
        calls3 = []
        got = lineage.run_or_resume(spark, d, "r2", "stg",
                                    _counting(df, calls3))
        assert calls3 == []
        assert got.count() == 100


def test_resume_after_triples_commit_equals_full_build(spark, monkeypatch,
                                                       tmp_path, first_run):
    """Extraction is one stage: a build that crashes right after its
    ``triples`` commit resumes with a poisoned (empty) documents frame
    and still equals a full build, so every later stage reads the
    committed triples, not the documents."""
    tables, cfg = first_run
    docs = corpus.documents_df(spark, 120, partitions=4)
    emb = corpus.embeddings_df(spark)
    base = str(tmp_path)
    real = lineage.run_or_resume

    def crash_after_triples(spark_, base_dir, run_id, stage, *a, **k):
        if stage == "entity_clusters":
            raise RuntimeError("injected crash after the triples commit")
        return real(spark_, base_dir, run_id, stage, *a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(lineage, "run_or_resume", crash_after_triples)
        with pytest.raises(RuntimeError):
            run_materialized(spark, docs, emb, base, "runB", cfg)
    assert lineage.stage_complete(spark, base, "runB", "triples")
    assert not lineage.stage_complete(spark, base, "runB", "entity_clusters")

    poison = spark.createDataFrame([], corpus.DOCUMENTS_SCHEMA)
    resumed = run_materialized(spark, poison, emb, base, "runB", cfg)
    for k in ("triples", "final_triples", "edges"):
        assert _rows(resumed[k]) == _rows(tables[k]), k


@pytest.mark.parametrize("options", [
    {"coref": True},
    {"cluster_relations": True},
    {"extractor": "textacy"},
    {"expand_mentions": "ner"},
    {"expand_mentions": "ner", "gazetteer": {"the virus": "MISC"}},
], ids=["coref", "cluster_relations", "extractor-textacy",
        "expand_mentions-ner", "expand_mentions-ner-gazetteer"])
def test_materialized_equals_lazy_pipeline(spark, tmp_path, options):
    """run_materialized honours every PipelineConfig field: with each
    non-default option its committed tables equal run_pipeline's."""
    docs = corpus.documents_df(spark, 40, partitions=2)
    emb = corpus.embeddings_df(spark)
    cfg = PipelineConfig(top_n_ent=2000, top_n_rel=50, **options)
    built = run_materialized(spark, docs, emb, str(tmp_path), "runX", cfg)
    lazy = run_pipeline(spark, docs, emb, cfg)
    for k in ("triples", "final_triples"):
        want = _rows(lazy[k])
        assert _rows(built[k]) == want and want, k
