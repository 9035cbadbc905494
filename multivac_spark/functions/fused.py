"""Fused document→triples extraction stage.

One Arrow-batched ``mapInPandas`` pass running html→text → clean →
sentence split → dependency parse → SVO extraction per document. The
intermediate token structs never cross the Arrow boundary — nested
list<struct> serialization is the dominant cost of the staged path
(SURVEY.md §1.2 flagged exactly this). Streaming ingest
(``streaming.ingest``) uses it: its stream keeps no sentences table.
The batch build does not: it makes the ``sentences`` table with
``parse.fused_sentences_stage`` and extracts the triples from that
table (``svo.extract_triples_stage``), parsing each document once.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from .parse import article_texts, parse_document
from .svo import TRIPLES_SCHEMA, extract_svo


def fused_extract_stage(documents, lexicon: dict[str, str],
                        lemmas: dict[str, str],
                        lang_filter: str | None = "en",
                        normalize: bool = False,
                        verb_lemmas: dict[str, str] | None = None):
    """documents(url, warc_ts, html, text, lang) → raw (or, with
    ``normalize=True``, normalized) triples in a single Arrow pass.

    NULL-text pages (no <article>) flow through producing zero rows
    (FIXTURES.md invariant #5). ``normalize=True`` applies the
    preprocess_raw_tuples semantics in-pass via ``normalize_triple_py``
    (parity-pinned against the Column implementation)."""
    lexset = frozenset(lexicon)
    if normalize:
        from .normalize import normalize_triple_py
        vl = verb_lemmas or {}
        non_nouns = frozenset(
            k for k, v in lexicon.items() if not v.startswith("NN"))
    src = documents
    if lang_filter:
        src = src.filter(src.lang == lang_filter)
    src = src.select("url", "html", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"url": [], "sent_id": [], "rdf_idx": [],
                   "subj": [], "pred": [], "obj": []}
            for url, cleaned in article_texts(pdf, lexset):
                for sid, _, toks in parse_document(cleaned, lexicon, lemmas):
                    for idx, s, p, o in extract_svo(toks):
                        if normalize:
                            norm = normalize_triple_py(s, p, o, vl, non_nouns)
                            if norm is None:
                                continue
                            s, p, o = norm
                        out["url"].append(url)
                        out["sent_id"].append(sid)
                        out["rdf_idx"].append(idx)
                        out["subj"].append(s)
                        out["pred"].append(p)
                        out["obj"].append(o)
            yield pd.DataFrame({
                "url": pd.Series(out["url"], dtype=object),
                "sent_id": pd.Series(out["sent_id"], dtype="int32"),
                "rdf_idx": pd.Series(out["rdf_idx"], dtype="int32"),
                "subj": pd.Series(out["subj"], dtype=object),
                "pred": pd.Series(out["pred"], dtype=object),
                "obj": pd.Series(out["obj"], dtype=object),
            })

    return src.mapInPandas(run, schema=TRIPLES_SCHEMA)
