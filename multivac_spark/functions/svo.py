"""SVO triple extraction over parsed token arrays.

Faithful reimplementation of the reference's custom dependency-subtree
heuristic ``stanford_parse.substitute_rdfs`` (src/rdf_graph/
rdf_parse.py:315-387) with its helpers ``pos_tree`` (:295-313),
``in_children`` (:277-293) and ``get_children`` (:228-229), as a pure
function over token arrays — vectorized at the batch level via
mapInPandas and exploded to one row per triple.

Replicated quirks (they matter for parity with the corrected-intent
reference suite, SURVEY.md §3.1):

* ``pos_tree`` returns tokens sorted by the *repr string*
  ``"{i}:{text}=>{dep}:{head}"`` (rdf_parse.py:117-121,313) — so a
  single noun/verb group keeps repr-lexicographic order ("10:" < "2:"),
  while multi-group assignment re-sorts by token index
  (rdf_parse.py:358,368,386).
* containment pruning mutates the group list while iterating
  (rdf_parse.py:331-339): of two identical groups only the first is
  emptied.
* with exactly one noun group it is assigned to SUBJECT even without a
  subj dependency (rdf_parse.py:344-345); the triple then dies in the
  empty-part filter downstream.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

TRIPLES_SCHEMA = ("url string, sent_id int, rdf_idx int, "
                  "subj string, pred string, obj string")


def _repr_key(t: dict) -> str:
    # stanford_token.__repr__ (rdf_parse.py:117-121); head here is the
    # 0-based governor exactly like stanford_token.head
    return f'{t["i"]}:{t["text"]}=>{t["dep"]}:{t["head"]}'


def _children_index(tokens: list[dict]) -> list[list[int]]:
    kids: list[list[int]] = [[] for _ in tokens]
    for j, t in enumerate(tokens):
        h = t["head"]
        # get_children: t.head+1 == tok.i  (rdf_parse.py:228-229)
        if 0 <= h < len(tokens) and h != j:
            kids[h].append(j)
    return kids


def _pos_tree(kids: list[list[int]], ti: int, mask: list[bool],
              reprs: list[str]) -> list[int]:
    """pos_tree semantics (rdf_parse.py:295-313): seed token included if
    its POS matches; matching children recursed into only via matching
    children. Returns indices sorted by repr-string. ``mask`` and
    ``reprs`` are precomputed per sentence (hot path: this runs once
    per noun/verb seed per sentence)."""
    acc: set[int] = set()

    def walk(j: int, seed: bool) -> None:
        if seed and mask[j]:
            acc.add(j)
        for c in kids[j]:
            if mask[c] and c not in acc:
                acc.add(c)
                walk(c, seed=False)

    walk(ti, seed=True)
    return sorted(acc, key=reprs.__getitem__)


def _prune_contained(groups: list[list[int]]) -> list[list[int]]:
    """Containment pruning with the reference's in-place mutation order
    (rdf_parse.py:331-339). Subset tests run on set shadows kept in
    sync with the mutation (an emptied group can never contain
    anything, matching ``all(x in []) == True`` only for empty gs[i],
    which the ``gs[i] and`` guard already excludes)."""
    gs = [list(g) for g in groups]
    sets = [set(g) for g in groups]
    for i in range(len(gs)):
        gi = sets[i]
        if not gi:
            continue
        for j in range(len(gs)):
            if j == i:
                continue
            if gs[i] and gi <= sets[j] and gs[j]:
                gs[i] = []
                sets[i] = set()
                break
    return [g for g in gs if g]


def extract_svo(tokens: list[dict],
                mentions: list[tuple[int, int]] | None = None
                ) -> list[tuple[int, str, str, str]]:
    """One parsed sentence → [(rdf_idx, subj, pred, obj)] with all three
    parts non-empty (the empty-part filter, rdf_graph.py:344-348).

    ``mentions``: optional [(tokenBegin, tokenEnd)] entity spans; when
    given, each RDF node's token list is widened over overlapping
    mentions before stringification — the reference's ``expand_rdfs``
    placement (rdf_parse.py:214-226 runs over ``self.rdfs`` before
    ``get_rdfs``)."""
    if not tokens:
        return []
    kids = _children_index(tokens)
    pos = [(t["pos"] or "") for t in tokens]
    reprs = [_repr_key(t) for t in tokens]
    # str.startswith(tuple) == any(startswith(x) for x in tuple)
    mask_nj = [p.startswith(("N", "J")) for p in pos]
    mask_vr = [p.startswith(("V", "R")) for p in pos]

    noun_seeds = [j for j, p in enumerate(pos) if p.startswith("N")]
    verb_seeds = [j for j, p in enumerate(pos) if p.startswith("V")]

    nouns = [_pos_tree(kids, j, mask_nj, reprs) for j in noun_seeds]
    verbs = [_pos_tree(kids, j, mask_vr, reprs) for j in verb_seeds]

    nouns = _prune_contained(nouns)
    verbs = _prune_contained(verbs)

    rdfs: dict[int, dict[str, list[int]]] = {
        0: {"subject": [], "relation": [], "object": []}}

    def ensure(idx: int) -> None:
        if idx not in rdfs:
            rdfs[idx] = {"subject": [], "relation": [], "object": []}

    by_i = lambda js: sorted(js, key=lambda j: tokens[j]["i"])

    subj_mask = ["subj" in (t["dep"] or "") for t in tokens]

    if len(nouns) == 1:
        rdfs[0]["subject"] = nouns[0]          # pos_tree order kept
    else:
        idx = 0
        for g in nouns:
            if any(subj_mask[j] for j in g):
                if rdfs[idx]["subject"]:
                    idx += 1
                    ensure(idx)
                rdfs[idx]["subject"] = by_i(g)
            else:
                if rdfs[idx]["object"]:
                    idx += 1
                    ensure(idx)
                rdfs[idx]["object"] = by_i(g)

    if len(verbs) == 1:
        rdfs[0]["relation"] = verbs[0]         # pos_tree order kept
    else:
        idx = 0
        full_trees = {}
        mask_all = [True] * len(tokens)  # ("",) prefix matches everything

        def full_tree(j: int) -> set[int]:
            if j not in full_trees:
                full_trees[j] = set(_pos_tree(kids, j, mask_all, reprs))
            return full_trees[j]

        def in_children(parent: list[int], child: list[int]) -> bool:
            # rdf_parse.py:277-293
            for pj in parent:
                tree = full_tree(pj)
                if any(cj in tree for cj in child):
                    return True
            return False

        for g in verbs:
            if not (in_children(g, rdfs[idx]["subject"])
                    or in_children(g, rdfs[idx]["object"])):
                idx += 1
                ensure(idx)
            rdfs[idx]["relation"] = by_i(g)

    if mentions:
        rdfs = expand_rdf_groups(rdfs, mentions)

    out: list[tuple[int, str, str, str]] = []
    for idx in sorted(rdfs):
        parts = rdfs[idx]
        if parts["subject"] and parts["relation"] and parts["object"]:
            subj = " ".join(tokens[j]["text"] for j in parts["subject"])
            pred = " ".join(tokens[j]["text"] for j in parts["relation"])
            obj = " ".join(tokens[j]["text"] for j in parts["object"])
            out.append((idx, subj, pred, obj))
    return out


def expand_rdf_groups(groups: dict[int, dict[str, list[int]]],
                      mentions: list[tuple[int, int]]
                      ) -> dict[int, dict[str, list[int]]]:
    """Twin of ``expand_rdfs`` (rdf_parse.py:214-226): widen each RDF
    node's token list to cover any overlapping entity-mention token
    range [begin, end). Declared in the reference but never called —
    implemented here (like its top_tfidf) and exposed for pipelines
    that carry mention spans (this package's NP chunks stand in for
    CoreNLP ``entitymentions``)."""
    if not mentions:
        return groups
    out: dict[int, dict[str, list[int]]] = {}
    for rdf, parts in groups.items():
        new_parts = {}
        for node, node_toks in parts.items():
            toks_set = set(node_toks)
            for begin, end in mentions:
                toks = range(begin, end)
                if toks_set.intersection(toks):
                    toks_set = toks_set.union(toks)
            new_parts[node] = sorted(toks_set)
        out[rdf] = new_parts
    return out


def sentence_extractor(extractor: str = "rdf_parse",
                       mention_source: str | None = None,
                       gazetteer: dict[str, str] | None = None):
    """Parsed sentence tokens → [(rdf_idx, subj, pred, obj)] for the
    ``PipelineConfig`` extractor fields: ``extractor="textacy"`` is the
    Phase-II twin (``svo_textacy``); otherwise the ``substitute_rdfs``
    twin, its RDF nodes widened over ``mention_source`` spans when set:
    None (reference default — ``expand_rdfs`` is declared but never
    called, rdf_parse.py:214), ``"ner"`` (rule-NER entitymentions twin,
    functions/ner.py, with an optional RegexNER-style ``gazetteer``) or
    ``"chunks"`` (NP-chunk inventory)."""
    if mention_source not in (None, "ner", "chunks"):
        raise ValueError(f"unknown mention_source: {mention_source!r}")
    if extractor == "textacy":
        from .svo_textacy import extract_svo_textacy
        return extract_svo_textacy
    if mention_source is None:
        return extract_svo
    from .ner import chunk_mentions, entity_mentions
    mentions = (chunk_mentions if mention_source == "chunks"
                else lambda toks: entity_mentions(toks, gazetteer))
    return lambda toks: extract_svo(
        toks, mentions=[(b, e) for b, e, _ in mentions(toks)])


def triples_frame(rows: list[tuple]) -> pd.DataFrame:
    """(url, sent_id, rdf_idx, subj, pred, obj) tuples → one Arrow batch
    of ``TRIPLES_SCHEMA``."""
    return pd.DataFrame.from_records(
        rows, columns=["url", "sent_id", "rdf_idx", "subj", "pred", "obj"])


def triples_from_sentences(sentences_df, extract):
    """sentences(url, sent_id, text, tokens) → raw_triples(url, sent_id,
    rdf_idx, subj, pred, obj), running ``extract`` (one of
    ``sentence_extractor``'s) per sentence."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield triples_frame([
                (url, int(sid), *t)
                for url, sid, toks in zip(pdf["url"], pdf["sent_id"],
                                          pdf["tokens"])
                for t in extract([dict(t) for t in toks])])

    return (sentences_df.select("url", "sent_id", "tokens")
            .mapInPandas(run, schema=TRIPLES_SCHEMA))


def extract_triples_stage(sentences_df, mention_source: str | None = None,
                          gazetteer: dict[str, str] | None = None):
    """sentences → raw_triples through the ``substitute_rdfs`` twin; with
    a ``mention_source`` each sentence's RDF nodes are widened over
    overlapping mention spans before stringification (see
    ``sentence_extractor``)."""
    return triples_from_sentences(sentences_df, sentence_extractor(
        mention_source=mention_source, gazetteer=gazetteer))
