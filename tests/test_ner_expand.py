"""Rule-NER entitymentions twin (functions/ner.py) + its wiring into
``expand_rdfs``-style mention widening (extract_svo(mentions=...),
extract_triples_stage(mention_source=...), PipelineConfig.expand_mentions).

The reference widens RDF nodes over CoreNLP ``entitymentions`` spans
(rdf_parse.py:214-226, declared but unwired); the widening math itself
is already parity-tested (test_corpus_and_extract.py). These tests pin
the mention *inventory* rules and the end-to-end opt-in routes.
"""

import numpy as np

from multivac_spark.functions import parse as P
from multivac_spark.functions.ner import chunk_mentions, entity_mentions
from multivac_spark.functions.svo import extract_svo, extract_triples_stage
from multivac_spark.sources import corpus, vocab


def _tok(i, text, pos, head, dep):
    return {"i": i, "text": text, "lemma": text.lower(), "pos": pos,
            "head": head, "dep": dep}


# --- mention inventory rules ------------------------------------------------

def test_acronym_and_nnp_and_number_spans():
    toks = [_tok(0, "The", "DT", 1, "det"),
            _tok(1, "WHO", "NNP", 2, "nsubj"),
            _tok(2, "reported", "VBD", 2, "root"),
            _tok(3, "Marie", "NNP", 4, "compound"),
            _tok(4, "Curie", "NNP", 2, "dobj"),
            _tok(5, "in", "IN", 2, "prep"),
            _tok(6, "19", "CD", 7, "nummod"),
            _tok(7, "03", "CD", 5, "pobj")]
    got = entity_mentions(toks)
    # WHO: acronym (claimed before the NNP pass), Marie Curie: NNP run,
    # 19 03: CD run
    assert got == [(1, 2, "ORGANIZATION"), (3, 5, "ENTITY"),
                   (6, 8, "NUMBER")]


def test_acronym_requires_two_letters():
    toks = [_tok(0, "A1", "NN", 0, "root"),
            _tok(1, "T5X", "NN", 0, "dep"),
            _tok(2, "I", "PRP", 0, "dep")]
    got = entity_mentions(toks)
    assert got == [(1, 2, "ORGANIZATION")]   # A1: one letter; I: len 1


def test_gazetteer_longest_match_wins_and_claims_first():
    toks = [_tok(0, "deep", "JJ", 2, "amod"),
            _tok(1, "neural", "JJ", 2, "amod"),
            _tok(2, "network", "NN", 3, "nsubj"),
            _tok(3, "works", "VBZ", 3, "root")]
    gaz = {"neural network": "TECH", "deep neural network": "TECH2",
           "network": "TECH3"}
    got = entity_mentions(toks, gaz)
    assert got == [(0, 3, "TECH2")]   # longest phrase claims all three


def test_gazetteer_overrides_rule_ner():
    toks = [_tok(0, "NASA", "NNP", 1, "nsubj"),
            _tok(1, "launched", "VBD", 1, "root")]
    assert entity_mentions(toks, {"nasa": "AGENCY"}) == [(0, 1, "AGENCY")]
    assert entity_mentions(toks) == [(0, 1, "ORGANIZATION")]


def test_spans_never_overlap():
    rng = np.random.RandomState(7)
    lex = vocab.pos_lexicon()
    lemmas = dict(vocab.verb_lemma_table())
    gaz = {"virus": "MISC", "unstable virus": "MISC"}
    for _ in range(50):
        toks = corpus.gen_sentence_tokens(rng)
        spans = entity_mentions(toks, gaz)
        seen = set()
        for b, e, _label in spans:
            assert b < e
            assert not (set(range(b, e)) & seen)
            seen |= set(range(b, e))


# --- widening through extract_svo -------------------------------------------

def test_extract_svo_mentions_widen_parts():
    # "virus infects cells ABC" — object group is the N-subtree
    # {cells}; a mention span covering tokens 2..4 pulls "ABC" in.
    toks = [_tok(0, "virus", "NN", 1, "nsubj"),
            _tok(1, "infects", "VBZ", 1, "root"),
            _tok(2, "cells", "NN", 1, "dobj"),
            _tok(3, "ABC", "XX", 1, "dep")]
    base = extract_svo(toks)
    assert base == [(0, "virus", "infects", "cells")]
    widened = extract_svo(toks, mentions=[(2, 4)])
    assert widened == [(0, "virus", "infects", "cells ABC")]
    # non-overlapping mention: no change
    assert extract_svo(toks, mentions=[(3, 4)]) == base


# --- stage + pipeline routes ------------------------------------------------

def _sentences_df(spark, n_docs=40):
    from multivac_spark.functions.parse import fused_sentences_stage
    from multivac_spark.plans.pipeline import default_lexicons

    lex, lemmas = default_lexicons()
    docs = corpus.documents_df(spark, n_docs, partitions=4)
    return fused_sentences_stage(docs, lex, lemmas, "en")


_GAZ = {"the virus": "MISC", "the membrane": "MISC",
        "a virus": "MISC", "the molecules": "MISC"}
# DT+NN phrases: the DT token is OUTSIDE the extractor's N/J pos-tree,
# so a firing mention visibly widens the part string — and the grammar
# corpus has no NNP/CD/acronym tokens (closed-world lexicon), so the
# gazetteer is the mention source that actually fires there, exactly
# like RegexNER carrying domain inventories in the reference setup.


def test_stage_ner_matches_local_kernel_and_fires(spark):
    sents = _sentences_df(spark).localCheckpoint()
    got = {tuple(r) for r in extract_triples_stage(
        sents, mention_source="ner", gazetteer=_GAZ).collect()}
    exp = set()
    widened = 0
    for r in sents.select("url", "sent_id", "tokens").collect():
        tl = [t.asDict() for t in r["tokens"]]
        spans = [(b, e) for b, e, _l in entity_mentions(tl, _GAZ)]
        plain = extract_svo(tl)
        wide = extract_svo(tl, mentions=spans)
        widened += sum(1 for a, b2 in zip(plain, wide) if a != b2)
        for idx, s, p, o in wide:
            exp.add((r["url"], r["sent_id"], idx, s, p, o))
    assert got == exp and len(got) > 0
    assert widened > 0   # the inventory actually fired somewhere


def test_stage_chunks_source_runs(spark):
    sents = _sentences_df(spark, 10).localCheckpoint()
    n_chunks = extract_triples_stage(sents, mention_source="chunks").count()
    n_plain = extract_triples_stage(sents).count()
    # widening never changes triple COUNT (empty-part filter unaffected:
    # widening only grows non-empty parts)
    assert n_chunks == n_plain


def test_pipeline_expand_mentions_route(spark):
    from multivac_spark.plans.pipeline import PipelineConfig, run_pipeline

    docs = corpus.documents_df(spark, 30, partitions=4)
    emb = corpus.embeddings_df(spark)
    base = run_pipeline(spark, docs, emb)["triples"]
    ner = run_pipeline(
        spark, docs, emb,
        PipelineConfig(expand_mentions="ner", gazetteer=_GAZ))["triples"]
    rb = sorted(tuple(r) for r in base.collect())
    rn = sorted(tuple(r) for r in ner.collect())
    # widening only grows non-empty parts: same triple count and keys,
    # at least one part string wider
    assert len(rb) == len(rn) > 0
    assert [t[:3] for t in rb] == [t[:3] for t in rn]
    assert rb != rn
