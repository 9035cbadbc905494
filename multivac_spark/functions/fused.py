"""Fused document→triples extraction: the one extraction kernel.

One Arrow-batched ``mapInPandas`` pass running, per document,
html→text → clean → (coref) → sentence split → dependency parse → the
configured SVO extractor → (normalization). The token structs never
cross the Arrow boundary — nested list<struct> serialization is the
dominant cost of a staged path (SURVEY.md §1.2). The batch build
(``plans.pipeline``, whose ``triples`` it makes for every
``PipelineConfig``) and streaming ingest (``streaming.ingest``) both
run it. The staged operators (``parse_stage``,
``svo.extract_triples_stage``, ``extract_triples_textacy_stage``, the
Column ``normalize_triples``) stay as its oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from .parse import article_texts, parse_document
from .svo import TRIPLES_SCHEMA, sentence_extractor, triples_frame


def fused_extract_stage(documents, lexicon: dict[str, str],
                        lemmas: dict[str, str],
                        lang_filter: str | None = "en",
                        normalize: bool = False,
                        verb_lemmas: dict[str, str] | None = None,
                        coref: bool = False,
                        extractor: str = "rdf_parse",
                        expand_mentions: str | None = None,
                        gazetteer: dict[str, str] | None = None):
    """documents(url, warc_ts, html, text, lang) → raw (or, with
    ``normalize=True``, normalized) triples in a single Arrow pass.

    NULL-text pages (no <article>) flow through producing zero rows
    (FIXTURES.md invariant #5). ``coref``, ``extractor``,
    ``expand_mentions`` and ``gazetteer`` are the ``PipelineConfig``
    fields of the same names. ``normalize=True`` applies the
    preprocess_raw_tuples semantics in-pass via ``normalize_triple_py``
    (parity-pinned against the Column implementation), lemmatizing
    predicates with ``verb_lemmas`` — by default
    ``vocab.verb_lemma_table()``, the table the batch build uses."""
    lexset = frozenset(lexicon)
    svo = sentence_extractor(extractor, expand_mentions, gazetteer)
    if coref:
        from .coref import resolve_document
    if normalize:
        from ..sources import vocab
        from .normalize import normalize_triple_py
        vl = vocab.verb_lemma_table() if verb_lemmas is None else verb_lemmas
        non_nouns = frozenset(
            k for k, v in lexicon.items() if not v.startswith("NN"))
    src = documents
    if lang_filter:
        src = src.filter(src.lang == lang_filter)
    src = src.select("url", "html", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, text in article_texts(pdf, lexset):
                if coref:
                    text = resolve_document(text, lexicon, lemmas)
                for sid, _, toks in parse_document(text, lexicon, lemmas):
                    for idx, s, p, o in svo(toks):
                        if normalize:
                            norm = normalize_triple_py(s, p, o, vl, non_nouns)
                            if norm is None:
                                continue
                            s, p, o = norm
                        rows.append((url, sid, idx, s, p, o))
            yield triples_frame(rows)

    return src.mapInPandas(run, schema=TRIPLES_SCHEMA)
