"""Query mapping: clean_queries port + query → KG answers."""

import pytest
from pyspark.sql import functions as F

from multivac_spark.operators import query as Q
from multivac_spark.plans.pipeline import default_lexicons
from multivac_spark.sources import corpus


def test_clean_query_reference_semantics():
    # strip quotes, force '?', capitalize (rdf_parse.py:22-61)
    assert Q.clean_query('  "what does the virus infect"  ') == \
        "What does the virus infect?"
    # fragment before question removed
    assert Q.clean_query("Some text. what binds receptors?") == \
        "What binds receptors?"
    # avg token length < 2 → dropped
    assert Q.clean_query("a b c d") is None
    # non-alpha prefix stripped
    assert Q.clean_query("123 why do cells mutate") == \
        "Why do cells mutate?"


def test_clean_queries_stage(spark):
    df = spark.createDataFrame(
        [(1, '"what does the virus infect"'), (2, "a b"), (3, None)],
        "query_id long, query string")
    rows = Q.clean_queries_stage(df).collect()
    assert len(rows) == 1
    assert rows[0]["query"] == "What does the virus infect?"


@pytest.fixture(scope="module")
def kg(spark):
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline
    docs = corpus.documents_df(spark, 80, partitions=4)
    emb = corpus.embeddings_df(spark)
    tables = run_pipeline(spark, docs, emb,
                          PipelineConfig(top_n_ent=3000, top_n_rel=50))
    return tables["final_triples"], emb


def test_answer_queries_end_to_end(spark, kg):
    final_triples, emb = kg
    lex, lemmas = default_lexicons()

    # build queries from actual triples so answers must exist
    some = final_triples.limit(3).collect()
    rows = []
    for i, r in enumerate(some):
        # use the head mention's first token as a subject the matcher
        # must resolve through embeddings
        rows.append((i, f"the {r['subj'].split(' | ')[0]} {r['pred']} what"))
    qdf = spark.createDataFrame(rows, "query_id long, query string")

    parts = Q.extract_query_parts(qdf, lex, lemmas)
    assert parts.count() >= 1

    answers = Q.answer_queries(parts, final_triples, emb)
    got = answers.collect()
    assert len(got) >= 1
    # every answer row references a real triple
    ft = {(r["subj"], r["pred"], r["obj"])
          for r in final_triples.collect()}
    for r in got:
        if r["slot"] == "tail":
            assert (r["head"], r["rel"], r["answer"]) in ft
