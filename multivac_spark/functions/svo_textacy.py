"""Textacy-path SVO extraction — the reference's Phase-II extractor.

Faithful twin of ``RDFExtractor.extract`` (src/rdf_graph/
rdf_extract.py:767-833) and the textacy-0.6
``subject_verb_object_triples`` it consumes, re-expressed over this
package's parsed token arrays (the reference runs spaCy in-process;
a 10^12-doc Spark job needs a pure function over Arrow batches).

Semantics reproduced:

* **subject_verb_object_triples** — per verb: subjects = children
  with a ``*subj*`` dep, objects = ``dobj`` children; noun spans
  extend left over contiguous ``compound`` children (textacy's
  ``_get_span_for_compound_noun``); verb span would extend over
  aux/neg children (this parser emits none, so the span is the verb).
* **_triple_checks_out** (rdf_extract.py:641-673) — with the
  pipeline defaults (``remove_numeric='any'``): any digit in any part
  kills the triple; no VERB token inside subject/object spans;
  ``len(sub) >= 3`` and ``len(obj) >= 3``.
* **chunk snap** (``_get_chunk``, :696-719) — first noun chunk whose
  char span contains the span.
* **that/which repair** (``_postprocess`` + ``_get_preceding_chunk``,
  :675-756) — a subject in OBJECTS_TO_REPLACE is replaced by the
  last chunk (reversed scan) whose text occurs in the sentence before
  the span and is longer than ``min_sub_char_len``.
* **attr selection** (init :468-496, CLI defaults :957-969) —
  ``lowercase=True, lemmatize=False`` → all three parts ``lower_``.
* **_normalize** (:757-765) — NORM_REGEX_CHARS1/2 applied to subject
  and object only, then ``.strip()``.
"""

from __future__ import annotations

import re

from .svo import triples_from_sentences

OBJECTS_TO_REPLACE = {"that", "which"}            # rdf_extract.py:23
NORM_REGEX_CHARS1 = re.compile(                   # rdf_extract.py:25
    r'[\(\)\"\‘\,\.\%\{\}\`\\\:\[\]\“\•]+')
NORM_REGEX_CHARS2 = re.compile(r'^([\-\—\–]|(’s)|(’))\s?')

_HAS_DIGIT = re.compile(r"[0-9]")


def _check_numeric_any(s: str) -> bool:
    """check_numeric with check_any=True (remove_numeric='any')."""
    return bool(_HAS_DIGIT.search(s))


class _Span:
    """Char-offset span over the space-joined sentence (the twin of a
    spaCy span for this extractor's purposes)."""
    __slots__ = ("toks", "start", "end", "text")

    def __init__(self, tokens, offs, i0, i1):
        self.toks = list(range(i0, i1 + 1))
        self.start = offs[i0][0]
        self.end = offs[i1][1]
        self.text = " ".join(tokens[j]["text"] for j in self.toks)


def _noun_chunks(tokens, offs) -> list:
    """Contiguous DT/JJ/N* runs — the NP chunker the parser itself uses
    (the twin of spaCy ``sent.noun_chunks`` for this grammar)."""
    chunks = []
    k, n = 0, len(tokens)
    while k < n:
        p = tokens[k]["pos"]
        if p == "DT" or p == "JJ" or p.startswith("N"):
            start = k
            while k + 1 < n and (tokens[k + 1]["pos"] == "DT"
                                 or tokens[k + 1]["pos"] == "JJ"
                                 or tokens[k + 1]["pos"].startswith("N")):
                k += 1
            if any(tokens[j]["pos"].startswith("N")
                   for j in range(start, k + 1)):
                chunks.append(_Span(tokens, offs, start, k))
        k += 1
    return chunks


def _compound_span(tokens, offs, j) -> _Span:
    """textacy _get_span_for_compound_noun: extend left over contiguous
    ``compound`` children of the head."""
    i0 = j
    while (i0 - 1 >= 0 and tokens[i0 - 1]["dep"] == "compound"
           and tokens[i0 - 1]["head"] == j):
        i0 -= 1
    return _Span(tokens, offs, i0, j)


def _svo_candidates(tokens, offs):
    """subject_verb_object_triples twin over the token array."""
    kids: dict[int, list[int]] = {}
    for j, t in enumerate(tokens):
        h = t["head"]
        if 0 <= h < len(tokens) and h != j:
            kids.setdefault(h, []).append(j)
    for v, t in enumerate(tokens):
        if not t["pos"].startswith("V"):
            continue
        ch = kids.get(v, [])
        subs = [j for j in ch if "subj" in (tokens[j]["dep"] or "")]
        if not subs:
            continue
        objs = [j for j in ch if tokens[j]["dep"] == "dobj"]
        if not objs:
            continue
        verb_span = _Span(tokens, offs, v, v)
        for s in subs:
            s_span = _compound_span(tokens, offs, s)
            for o in objs:
                o_span = (_compound_span(tokens, offs, o)
                          if tokens[o]["pos"].startswith("N")
                          else _Span(tokens, offs, o, o))
                yield s_span, verb_span, o_span


def _checks_out(tokens, sub: _Span, pred: _Span, obj: _Span,
                min_sub: int, min_obj: int) -> bool:
    if (_check_numeric_any(sub.text.strip())
            or _check_numeric_any(obj.text.strip())
            or _check_numeric_any(pred.text.strip())):
        return False
    if any(tokens[j]["pos"].startswith("V") for j in obj.toks):
        return False
    if any(tokens[j]["pos"].startswith("V") for j in sub.toks):
        return False
    if len(sub.text) < min_sub or len(obj.text) < min_obj:
        return False
    return True


def _get_chunk(span: _Span, chunks: list) -> _Span:
    for c in chunks:
        if span.start >= c.start and span.end <= c.end:
            return c
    return span


def _get_preceding_chunk(span: _Span, chunks: list, sent_text: str,
                         min_sub: int) -> _Span:
    before = sent_text[:span.start].lower()
    for c in reversed(chunks):
        if c.text.lower() in before and len(c.text) > min_sub:
            return c
    return span


def extract_svo_textacy(tokens: list[dict],
                        min_sub_char_len: int = 3,
                        min_obj_char_len: int = 3
                        ) -> list[tuple[int, str, str, str]]:
    """One parsed sentence → [(rdf_idx, subj, pred, obj)] with the
    reference pipeline's defaults (lowercase, remove_numeric='any')."""
    if not tokens:
        return []
    offs = []
    p = 0
    for t in tokens:
        w = t["text"]
        offs.append((p, p + len(w)))
        p += len(w) + 1
    sent_text = " ".join(t["text"] for t in tokens)
    chunks = _noun_chunks(tokens, offs)

    out = []
    idx = 0
    for sub, pred, obj in _svo_candidates(tokens, offs):
        if not _checks_out(tokens, sub, pred, obj,
                           min_sub_char_len, min_obj_char_len):
            continue
        # post-processing (raw=False path)
        if sub.text.lower().strip() in OBJECTS_TO_REPLACE:
            sub = _get_preceding_chunk(sub, chunks, sent_text,
                                       min_sub_char_len)
        else:
            sub = _get_chunk(sub, chunks)
        obj = _get_chunk(obj, chunks)
        if not _checks_out(tokens, sub, pred, obj,
                           min_sub_char_len, min_obj_char_len):
            continue
        s = NORM_REGEX_CHARS2.sub(
            "", NORM_REGEX_CHARS1.sub("", sub.text.lower().strip())).strip()
        o = NORM_REGEX_CHARS2.sub(
            "", NORM_REGEX_CHARS1.sub("", obj.text.lower().strip())).strip()
        r = pred.text.lower().strip()
        out.append((idx, s, r, o))
        idx += 1
    return out


def extract_triples_textacy_stage(sentences_df):
    """sentences(url, sent_id, tokens) → textacy-path triples."""
    return triples_from_sentences(sentences_df, extract_svo_textacy)
