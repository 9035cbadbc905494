"""The fused doc→triples stage must produce exactly the staged path's
triples (extract → clean → parse → svo), and the build's ``triples``
— one call of that kernel for every ``PipelineConfig`` — must equal
the staged composition of every route."""

import pytest

from multivac_spark.functions.clean import clean_text_stage
from multivac_spark.functions.fused import fused_extract_stage
from multivac_spark.functions.html_text import extract_text_stage
from multivac_spark.functions.parse import parse_stage
from multivac_spark.functions.svo import extract_triples_stage
from multivac_spark.plans.pipeline import default_lexicons
from multivac_spark.sources import corpus


def test_fused_equals_staged(spark):
    lex, lemmas = default_lexicons()
    docs = corpus.documents_df(spark, 60, partitions=4)

    staged = extract_triples_stage(
        parse_stage(
            clean_text_stage(
                extract_text_stage(docs).filter("lang = 'en'"),
                frozenset(lex)),
            lex, lemmas))
    fused = fused_extract_stage(docs, lex, lemmas, "en")

    a = sorted(tuple(r) for r in staged.collect())
    b = sorted(tuple(r) for r in fused.collect())
    assert a == b
    assert len(a) > 50


def test_fused_equals_staged_with_prepopulated_text(spark):
    """Both paths must PREFER a pre-populated non-NULL ``text`` over
    re-extracting from html (upstream may supply already-extracted
    text; re-extraction would discard it). Pins the semantics for rows
    the synthetic corpus (text always NULL) never exercises."""
    import pyspark.sql.functions as F

    lex, lemmas = default_lexicons()
    docs = corpus.documents_df(spark, 20, partitions=2)
    # give some rows a pre-populated text that DIFFERS from their html
    pre = ("The researcher describes the experiment . "
           "The model predicts the outcome .")
    docs = docs.withColumn(
        "text",
        F.when(F.crc32(F.col("url")) % 3 == 0, F.lit(pre))
        .otherwise(F.col("text")))

    staged = extract_triples_stage(
        parse_stage(
            clean_text_stage(
                extract_text_stage(docs).filter("lang = 'en'"),
                frozenset(lex)),
            lex, lemmas))
    fused = fused_extract_stage(docs, lex, lemmas, "en")

    a = sorted(tuple(r) for r in staged.collect())
    b = sorted(tuple(r) for r in fused.collect())
    assert a == b
    # the pre-populated text actually flowed through (its triples show)
    kept = extract_text_stage(docs).filter(
        "text = '" + pre + "'").count()
    assert kept > 0


def test_fused_normalize_equals_column_normalize(spark):
    from multivac_spark.functions.normalize import normalize_triples
    from multivac_spark.sources import vocab

    lex, lemmas = default_lexicons()
    docs = corpus.documents_df(spark, 60, partitions=4)

    column_path = normalize_triples(
        fused_extract_stage(docs, lex, lemmas, "en"),
        vocab.verb_lemma_table(), lex)
    python_path = fused_extract_stage(
        docs, lex, lemmas, "en", normalize=True,
        verb_lemmas=vocab.verb_lemma_table())

    a = sorted(tuple(r) for r in column_path.collect())
    b = sorted(tuple(r) for r in python_path.collect())
    assert a == b
    assert len(a) > 50


def test_pred_token_cap_applies_before_be_removal(spark):
    """A 5-token predicate containing 'be' must be DROPPED (reference
    rdf_graph.py:369-375 checks len first, then strips 'be'); a 4-token
    'be' predicate survives with 'be' removed. Exercises the ordering
    the synthetic grammar (preds ≤2 tokens) never hits."""
    from multivac_spark.functions.normalize import (normalize_triple_py,
                                                    normalize_triples)
    from multivac_spark.sources import vocab

    lemmas = vocab.verb_lemma_table()
    raw = spark.createDataFrame(
        [("u", 0, 0, "cat", "might be seen to chase fast", "dog"),   # 6 lem toks → drop
         ("u", 0, 1, "cat", "might be seen to chase", "dog"),        # 5 → drop
         ("u", 0, 2, "cat", "be seen to chase", "dog"),              # 4 → keep, 'be' out
         ("u", 0, 3, "cat", "be", "dog")],                           # 1 → keep as-is
        "url string, sent_id int, rdf_idx int, subj string, pred string, obj string")
    out = {(r.rdf_idx, r.pred) for r in
           normalize_triples(raw, lemmas, {}).collect()}
    assert out == {(2, "seen to chase"), (3, "be")}
    # python twin agrees row-for-row
    for idx, pred in [(0, "might be seen to chase fast"),
                      (1, "might be seen to chase"),
                      (2, "be seen to chase"), (3, "be")]:
        py = normalize_triple_py("cat", pred, "dog", lemmas, frozenset())
        assert (py is not None) == (idx in (2, 3))
        if py is not None:
            assert py[1] == {2: "seen to chase", 3: "be"}[idx]


def _staged_triples(docs, cfg, lex, lemmas):
    """The staged composition the build's ``triples`` used to be:
    extract → clean → (coref) → parse → extractor → Column normalize."""
    from multivac_spark.functions.coref import resolve_document
    from multivac_spark.functions.normalize import normalize_triples
    from multivac_spark.functions.svo_textacy import (
        extract_triples_textacy_stage)
    from multivac_spark.sources import vocab

    cleaned = clean_text_stage(
        extract_text_stage(docs).filter(f"lang = '{cfg.lang_filter}'"),
        frozenset(lex)).select("url", "clean_text")
    if cfg.coref:
        def resolve(batches):
            for pdf in batches:
                pdf["clean_text"] = [
                    None if t is None else resolve_document(t, lex, lemmas)
                    for t in pdf["clean_text"]]
                yield pdf

        cleaned = cleaned.mapInPandas(resolve, cleaned.schema)
    sents = parse_stage(cleaned, lex, lemmas)
    if cfg.extractor == "textacy":
        raw = extract_triples_textacy_stage(sents)
    else:
        raw = extract_triples_stage(sents, mention_source=cfg.expand_mentions,
                                    gazetteer=cfg.gazetteer)
    return normalize_triples(raw, vocab.verb_lemma_table(), lex)


@pytest.mark.parametrize("options", [
    {},
    {"coref": True},
    {"extractor": "textacy"},
    {"expand_mentions": "ner"},
    {"expand_mentions": "ner", "gazetteer": {"the virus": "MISC",
                                             "the membrane": "MISC"}},
    {"expand_mentions": "chunks"},
], ids=["default", "coref", "extractor-textacy", "expand_mentions-ner",
        "expand_mentions-ner-gazetteer", "expand_mentions-chunks"])
def test_pipeline_triples_equal_staged_composition(spark, options):
    """One kernel call makes a build's ``triples`` for every config; it
    equals the staged operators it replaced, row for row."""
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline

    lex, lemmas = default_lexicons()
    docs = corpus.documents_df(spark, 40, partitions=2)
    cfg = PipelineConfig(**options)
    got = sorted(tuple(r) for r in run_pipeline(
        spark, docs, corpus.embeddings_df(spark), cfg)["triples"].collect())
    want = sorted(tuple(r) for r in
                  _staged_triples(docs, cfg, lex, lemmas).collect())
    assert got == want and len(got) > 50
    if not options:
        # a drain's default arguments lemmatize with the build's table
        drain = fused_extract_stage(docs, lex, lemmas, normalize=True)
        assert sorted(tuple(r) for r in drain.collect()) == got
